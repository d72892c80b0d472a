package pipebench

import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.query.{AccountEndpoints, Endpoints, GetActionsParams, StateEndpoints}
import graft.streaming.{Replay, Router, Subscription}

/** The tables a warm API session serves from. */
final case class Tables(history: DataFrame, deltas: DataFrame, blocks: DataFrame)

/** One request of the fixed mix. `endpoint` names the timed call. */
sealed trait Req { def endpoint: String; def describe: String }
final case class GetActions(account: String, filter: Option[String]) extends Req {
  def endpoint = "get_actions"; def describe = s"get_actions(account=$account, filter=${filter.getOrElse("-")})"
}
final case class GetTransaction(trx: String, hint: Option[Long]) extends Req {
  def endpoint = "get_transaction"; def describe = s"get_transaction($trx, hint=${hint.getOrElse("-")})"
}
final case class GetDeltas(scope: String) extends Req {
  def endpoint = "get_deltas"; def describe = s"get_deltas(scope=$scope)"
}
final case class GetTableState(at: Long) extends Req {
  def endpoint = "get_table_state"; def describe = s"get_table_state(block=$at)"
}
case object GetHealth extends Req { def endpoint = "get_health"; def describe = "get_health" }
case object GetMissedBlocks extends Req { def endpoint = "get_missed_blocks"; def describe = "get_missed_blocks" }
final case class Resync(from: Long, to: Long, sub: Subscription) extends Req {
  def endpoint = "resync"; def describe = s"resync([$from, $to], ${sub.contract}:${sub.action})"
}

/** Request latencies, each tagged with whether its round was traced. */
final case class ApiResult(samples: Seq[(Boolean, Double)], attempted: Long, failed: Long, wallS: Double,
    mismatches: Seq[String]) {
  def latMs: Seq[Double] = samples.map(_._2)
  def latMs(traced: Boolean): Seq[Double] = samples.collect { case (`traced`, ms) => ms }
}

/** The read side: a closed loop of client threads issuing a fixed,
  * seeded request mix against one warm session, each answer checked
  * against the [[Model]].
  */
object Api {
  val Clients = 4
  val PageSize = 500
  val ResyncBlocks = 200L
  /** Blocks both sides of a replay handoff carry around the seam. */
  val HandoffOverlap = 20L
  val Limit = 20
  /** Hyperion's `query_timeout`: a slower request counts as failed. */
  val TimeoutMs = 10000.0
  val Endpoints6 = Seq("get_actions", "get_transaction", "get_deltas", "get_table_state",
    "get_health", "get_missed_blocks")

  /** One cycle of 10 requests: get_actions on a Zipf-hot account with a
    * code:action filter and on a uniform one without, get_transaction
    * with and without a block hint, two replay re-syncs, and one each of
    * get_deltas, get_table_state, health and missed blocks. The
    * re-syncs, the longest requests, are the top fifth, so p85 falls
    * inside them rather than on the edge between two kinds. Clients walk
    * the cycle from different offsets and run whole cycles in rounds, so
    * every run measures the same mix; the seed draws the parameters.
    */
  val Cycle: Vector[Int] = Vector(0, 1, 6, 2, 7, 5, 8, 6, 3, 4)
  val MinRounds = 2

  /** Request `i` of client `c`. */
  def request(gen: Gen, m: Model, c: Int, i: Long): Req = {
    def pick(n: Int, salt: Int): Int = java.lang.Long.remainderUnsigned(gen.h(21 + salt, c, i), n).toInt
    def contract(salt: Int): (String, String) = Gen.Contracts(pick(Gen.Contracts.size, salt))
    Cycle(((i + c * 3) % Cycle.size).toInt) match {
      case 0 =>
        val (code, name) = contract(4)
        GetActions(Gen.account(Gen.zipfIndex(Gen.unit(gen.h(22, c, i)))), Some(s"$code:$name"))
      case 7 => GetActions(Gen.account(pick(Gen.Accounts, 3)), None)
      case 1 => val a = m.actions(pick(m.actions.size, 5)); GetTransaction(a.trx, Some(a.block))
      case 8 => GetTransaction(m.actions(pick(m.actions.size, 5)).trx, None)
      case 2 => GetDeltas(s"s${pick(8, 6)}")
      case 3 => GetTableState(m.blocks(pick(m.blocks.size, 7)))
      case 4 => GetHealth
      case 5 => GetMissedBlocks
      case _ =>
        val from = m.blocks(pick(m.blocks.size / 2, 8))
        val (code, name) = contract(9)
        Resync(from, from + ResyncBlocks, Subscription("sub", contract = code, action = name))
    }
  }

  /** The answer rows and, when tracing, the call's span. */
  private def timedQuery(tr: Tracer, layer: String, name: String)(df: => DataFrame): (Array[Row], Span) =
    tr.span(layer, name) { s =>
      val d = df
      if (s == null) (d.collect(), s)
      else {
        val t0 = System.nanoTime()
        d.queryExecution.executedPlan
        val t1 = System.nanoTime()
        val rows = d.collect()
        s.attrs("plan_ms") = (t1 - t0) / 1e6
        s.attrs("exec_ms") = (System.nanoTime() - t1) / 1e6
        s.attrs("rows") = rows.length.toDouble
        (rows, s)
      }
    }

  /** Run one request; the returned check compares its answer with the
    * [[Model]] and is kept out of the request's time.
    */
  def run(spark: SparkSession, tr: Tracer, t: Tables, m: Model, req: Req): () => Seq[String] = {
    val lib = m.head - 10
    def q(df: => DataFrame) = timedQuery(tr, "query", s"query.${req.endpoint}")(df)._1
    def expect[A](got: A, want: => A): Seq[String] =
      if (got == want) Nil else Seq(s"${req.describe}: got $got, want $want")
    req match {
      case GetActions(a, f) =>
        val rows = q(Endpoints.getActions(t.history, GetActionsParams(account = Some(a), filter = f, limit = Some(Limit))))
        () => expect(Model.longs(rows, "global_sequence"), m.actions.filter(x => x.involves(a) &&
          f.forall(_ == s"${x.code}:${x.name}")).sortBy(-_.gs).take(Limit).map(_.gs))
      case GetTransaction(trx, hint) =>
        val rows = q(AccountEndpoints.getTransaction(t.history, trx, lib, hint))
        () => expect(Model.longs(rows, "global_sequence"), m.actions.filter(_.trx == trx).map(_.gs))
      case GetDeltas(scope) =>
        val rows = q(Endpoints.getDeltas(t.deltas, code = Some(Gen.StateCode), scope = Some(scope), limit = Some(Limit)))
        () => expect(Model.longs(rows, "block_num"), m.deltas.filter(_.scope == scope).map(_.block_num).sortBy(-_).take(Limit))
      case GetTableState(at) =>
        val rows = q(Endpoints.getTableState(t.deltas, Gen.StateCode, Gen.StateTable, at))
        () => expect(rows.toSeq.map(r => (r.getAs[String]("composite_key"), r.getAs[Long]("block_num"))),
          m.state(at).toSeq.sortBy(_._1).take(25).map { case (k, d) => (k, d.block_num) })
      case GetHealth =>
        val rows = q(StateEndpoints.getHealth(t.blocks, lib))
        val g = m.goodBlocks
        () => expect(rows.toSeq.flatMap(r => Seq("first_indexed_block", "last_indexed_block",
          "total_indexed_blocks", "missing_blocks").map(r.getAs[Long])),
          Seq(g.head, g.last, g.size - 1L, g.last - g.head - (g.size - 1L)))
      case GetMissedBlocks =>
        val rows = q(StateEndpoints.getMissedBlocks(t.blocks))
        () => expect(rows.toSeq.map(r => r.getAs[String]("producer") ->
          (r.getAs[Long]("missed_blocks"), r.getAs[Long]("gaps"))).toMap, m.missedByProducer)
      case Resync(from, to, sub) =>
        def slice(a: Long, b: Long) = t.history.filter(col("block_num").between(a, b))
        val (page, rs) = timedQuery(tr, "replay", "Replay.replay")(Replay.replay(t.history, from, to, PageSize))
        if (rs != null) rs.attrs("pages") = page.map(_.getAs[Long]("batch_seq")).distinct.length.toDouble
        // the live side starts mid-range and overlaps the replayed side;
        // a gap or a duplicate across the seam shows in the deliveries
        val live = (from + to) / 2
        val handoff = Replay.handoff(slice(from, live + HandoffOverlap), slice(live - HandoffOverlap, to), live)
        val (routed, ts) = timedQuery(tr, "router", "Router.route")(Router.route(handoff, Seq(sub)))
        () => {
          val inRange = m.actions.filter(a => a.block >= from && a.block <= to).sortBy(a => (a.block, a.gs))
          val wantRouted = inRange.filter(a => a.code == sub.contract && a.name == sub.action).map(_.gs)
          // traced runs also count the frame the router was given (an
          // extra query, so outside the request's time)
          val events = if (ts == null) Nil else {
            val n = handoff.count()
            ts.attrs("events") = n.toDouble
            expect(n, inRange.size.toLong)
          }
          events ++ expect(page.length, inRange.size) ++
            expect(page.toSeq.map(r => r.getAs[Long]("global_sequence") -> r.getAs[Long]("batch_seq")).toMap,
              inRange.zipWithIndex.map { case (a, i) => a.gs -> (i / PageSize).toLong }.toMap) ++
            expect(Model.longs(routed, "global_sequence").sorted, wantRouted.sorted)
        }
    }
  }

  /** One request of every kind, untimed and concurrent, so the loop
    * starts warm.
    */
  def warm(spark: SparkSession, tr: Tracer, t: Tables, m: Model, gen: Gen): Seq[String] =
    Main.inParallel(Cycle.indices.map(i => request(gen, m, Clients, i.toLong)).distinctBy(_.endpoint)
      .map(r => () => run(spark, tr, t, m, r)())).flatten

  /** Closed loop: each client sends its next request when the previous
    * one has returned. Clients run whole cycles in rounds; the loop ends
    * with the first round that finishes after `seconds`, and runs at
    * least `minRounds` rounds ([[MinRounds]], 80 requests, lets p85 have
    * ten samples beyond it) and a multiple of `tracers.size`. Request i
    * of round r runs under `tracers((i + r) % n)`, so a traced run
    * interleaves traced and untraced requests; with two tracers every
    * request kind is traced on half the clients in every round, and
    * warm-up drift falls on both sides alike. A client that dies, or a
    * loop that does not end, is reported as a mismatch, so the run is
    * not correct.
    */
  def loop(spark: SparkSession, tracers: Seq[Tracer], t: Tables, m: Model, gen: Gen, seconds: Double,
      minRounds: Int): ApiResult = {
    val lat = new ConcurrentLinkedQueue[(Boolean, Double)]()
    val bad = new ConcurrentLinkedQueue[String]()
    val attempted = new AtomicLong
    val failed = new AtomicLong
    val phase = tracers.map(_.open).find(_ != null).orNull
    val pool = Executors.newFixedThreadPool(Clients)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val rounds = new AtomicLong
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val round = new CyclicBarrier(Clients, () =>
      stop.set({ val r = rounds.incrementAndGet(); r >= minRounds && r % tracers.size == 0 } &&
        System.nanoTime() >= deadline))
    def one(c: Int, i: Long, k: Int): Unit = {
      val tr = tracers(k)
      val req = request(gen, m, c, i)
      attempted.incrementAndGet()
      val s = System.nanoTime()
      try {
        val check = tr.span("bench", s"request.${req.endpoint}", tr.newTrace(), phase) { _ =>
          Api.run(spark, tr, t, m, req)
        }
        val ms = (System.nanoTime() - s) / 1e6
        lat.add((tr.enabled, ms))
        if (ms > TimeoutMs) failed.incrementAndGet()
        check().foreach(bad.add)
      } catch {
        case e: Exception =>
          failed.incrementAndGet()
          System.err.println(s"[pipebench] ${req.describe} failed: $e")
      }
    }
    val clients = (0 until Clients).map { c =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            var i = 0L
            while (!stop.get()) {
              val r = rounds.get()
              (0 until Cycle.size).foreach { _ => one(c, i, ((i + r) % tracers.size).toInt); i += 1 }
              round.await()
            }
          } catch {
            // break the barrier, so the other clients stop too
            case e: Throwable => round.reset(); throw e
          }
      })
    }
    pool.shutdown()
    if (!pool.awaitTermination(seconds.toLong + 120, TimeUnit.SECONDS)) {
      bad.add(s"api loop still running ${seconds.toLong + 120} s after it started")
      pool.shutdownNow()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    clients.zipWithIndex.foreach { case (f, c) =>
      try f.get(1, TimeUnit.SECONDS)
      catch { case e: Exception => bad.add(s"api client $c stopped: ${Option(e.getCause).getOrElse(e)}") }
    }
    ApiResult(lat.asScala.toSeq, attempted.get, failed.get, wall, bad.asScala.toSeq)
  }
}

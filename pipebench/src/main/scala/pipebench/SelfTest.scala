package pipebench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The benchmark's own tests: the generator is deterministic, the
  * oracle rejects wrong answers, and the metric names are well formed
  * and match `BENCHMARK.json`. Exits nonzero on the first failure.
  */
object SelfTest {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    deterministicInputs()
    metricNames()
    val spark = Main.session(Paths.get("pipebench", "work").toAbsolutePath, 1)
    try oracle(spark) finally spark.stop()
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def deterministicInputs(): Unit = {
    val blocks = new Gen(7, true).blocks(Gen.FirstBlock, Gen.FirstBlock + 200)
    def inputs(g: Gen): Seq[String] = blocks.flatMap { b =>
      Seq(g.hostileFrame(b).map(x => f"$x%02x").mkString, g.rawTraces(b).mkString, g.deltas(b).mkString)
    }
    val a = inputs(new Gen(7, true))
    check("the same seed gives byte-identical frames, receipts and deltas", a == inputs(new Gen(7, true)))
    check("another seed gives other inputs", a != inputs(new Gen(8, true)))
    check("the hot and cold chains differ", a != inputs(new Gen(7, false)))
    val g = new Gen(7, true)
    check("missed and corrupt blocks are planted", blocks.size < 200 && blocks.exists(g.corrupt))
  }

  def metricNames(): Unit = {
    val all = Metrics.EndToEnd ++ Metrics.PerLayer
    check("every metric name matches " + Metrics.NamePattern, all.forall(_._1.matches(Metrics.NamePattern)))
    check("metric names are unique", all.map(_._1).distinct.size == all.size)
    val path = Paths.get("BENCHMARK.json")
    check("BENCHMARK.json exists", Files.exists(path))
    if (Files.exists(path)) {
      val json = JsonMethods.parse(new String(Files.readAllBytes(path), "UTF-8"))
      def names(key: String): Seq[(String, String)] = (json \ key) match {
        case JArray(ms) => ms.map(m => ((m \ "name").values.toString, (m \ "unit").values.toString))
        case _ => Nil
      }
      check("end-to-end metrics match BENCHMARK.json", names("end_to_end") == Metrics.EndToEnd)
      check("per-layer metrics match BENCHMARK.json", names("per_layer") == Metrics.PerLayer)
    }
  }

  def oracle(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    val gen = new Gen(7, true)
    val m = new Model(gen, Gen.FirstBlock, Gen.FirstBlock + 60)
    val raw = spark.createDataset(m.blocks.flatMap(gen.rawTraces))
    val history = graft.etl.ActionDedup.mergeReceipts(raw).cache()
    val deltas = spark.createDataset(m.deltas).toDF()
    val state = graft.state.StateMerge.fromHistory(deltas, Gen.StateKeys).cache()
    check("the oracle accepts the engine's history", m.checkHistory(history).isEmpty)
    check("the oracle accepts the engine's state", m.checkState(state).isEmpty)
    val dropped = history.filter(col("global_sequence") =!= m.actions(3).gs)
    check("the oracle rejects a history missing one action", m.checkHistory(dropped).nonEmpty)
    check("the oracle rejects a history with a duplicate action",
      m.checkHistory(history.unionByName(history.limit(1))).nonEmpty)
    val stale = state.withColumn("data", when(col("primary_key") === state.head().getAs[String]("primary_key"),
      lit("{}")).otherwise(col("data")))
    check("the oracle rejects a state with one stale row", m.checkState(stale).nonEmpty)

    val blocks = graft.streaming.ShipWire.parseFrames(
      m.blocks.map(gen.hostileFrame).toDF("frame")).toDF().cache()
    check("the oracle accepts the engine's block rows", m.checkBlocks(blocks).isEmpty)
    check("the oracle rejects a quarantined frame counted as a block",
      m.checkBlocks(blocks.withColumn("corrupt", lit(false))).nonEmpty)

    val t = Tables(history, deltas, blocks.filter(!col("corrupt")))
    val off = new Tracer(false, spark)
    val trx = m.actions(5).trx
    check("a right answer passes", Api.run(spark, off, t, m, GetTransaction(trx, None))().isEmpty)
    val wrong = Api.run(spark, off, t.copy(history = history.filter(col("trx_id") =!= trx)), m,
      GetTransaction(trx, None))()
    check("a wrong answer fails and names the request", wrong.nonEmpty && wrong.head.contains(trx))
    val kinds = Seq(GetActions(Gen.account(0), None), GetDeltas("s1"), GetTableState(m.blocks(30)),
      GetHealth, GetMissedBlocks, Resync(m.blocks(10), m.blocks(40),
        graft.streaming.Subscription("sub", contract = "eosio.token", action = "transfer")))
    kinds.foreach(r => check(s"${r.endpoint} answers match the model", Api.run(spark, off, t, m, r)().isEmpty))
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** The bench's per-query counters and its full-timings sidecar. */
class BenchSpec extends SparkSpec {

  test("snapshot differences count each query's own stages and shuffle, no late events") {
    // a slow listener ahead of the collector on the same queue holds each
    // event back, as a busy bus does: without the drain in `snapshot` the
    // grouped query's last events would land in the plain query's window
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(50)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(50)
    }
    spark.sparkContext.addSparkListener(slow)
    val collector = new Bench.Collector(spark.sparkContext)
    try {
      val before = collector.snapshot()
      spark.range(0, 10000, 1, 4).groupBy(col("id") % 7).count().collect()
      val grouped = collector.snapshot() - before
      assert(grouped.jobs >= 1)
      assert(grouped.stages >= 2, grouped)
      assert(grouped.tasks >= 2, grouped)
      assert(grouped.shuffleWriteBytes > 0, grouped)
      assert(grouped.shuffleReadBytes > 0, grouped)
      // one slice: the count's aggregate needs no exchange, so any shuffle
      // bytes here could only be the grouped query's events arriving late
      val mid = collector.snapshot()
      spark.range(0, 10000, 1, 1).count()
      val plain = collector.snapshot() - mid
      assert(plain.stages >= 1, plain)
      assert(plain.shuffleWriteBytes === 0L, plain)
      assert(plain.shuffleReadBytes === 0L, plain)
    } finally {
      spark.sparkContext.removeSparkListener(collector)
      spark.sparkContext.removeSparkListener(slow)
    }
  }

  test("the sidecar is valid JSON when an error message holds newlines and quotes") {
    val msg = "org.apache.spark.sql.AnalysisException: bad \"col\"\n+- Project [x]\n\tat\\"
    val passes = Seq(
      Seq(Bench.Run("q_a", 1.25, Bench.Counts(jobs = 2, stages = 3))),
      Seq(Bench.Run("q_a", 1.5, Bench.Counts(jobs = 2, shuffleWriteBytes = 7))))
    val json = parse(Bench.sidecar(passes, Map("q_a" -> msg),
      contended = false, allocStalled = false, sf = "/data/sf0.01"))
    implicit val formats: Formats = DefaultFormats
    assert((json \ "errors" \ "q_a").extract[String] === msg)
    assert((json \ "queries" \ "q_a").extract[Double] === 1.25)
    assert((json \ "total").extract[Double] === 1.25)
    val q = json \ "per_query" \ "q_a"
    assert((q \ "pass1" \ "wall_sec").extract[Double] === 1.25)
    assert((q \ "pass1" \ "stages").extract[Long] === 3L)
    assert((q \ "pass2" \ "wall_sec").extract[Double] === 1.5)
    assert((q \ "pass2" \ "shuffle_write_bytes").extract[Long] === 7L)
  }
}

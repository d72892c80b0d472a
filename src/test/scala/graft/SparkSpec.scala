package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's default test execution).
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSession.spark

  /** Give a state that has no bucket yet an `n`-bucket layout, by writing
    * the bucket marker [[graft.streaming.ParquetStateSink]] resumes from.
    */
  def seedBuckets(stateDir: String, n: Int): Unit = {
    val marker = java.nio.file.Paths.get(stateDir + "__meta", "nbuckets")
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.writeString(marker, n.toString)
  }

  /** Hash-partition exchanges NOT nested inside a broadcast build — the
    * corpus-sized shuffles of a plan string. Exchanges under a
    * BroadcastExchange only reorganize a small build side (an eval-set
    * distinct, a dropped-id set) and are excluded.
    */
  def topLevelHashExchanges(plan: String): Seq[String] = {
    val lines = plan.linesIterator.toIndexedSeq
    def indent(l: String) = l.takeWhile(c => !c.isLetter).length
    lines.zipWithIndex
      .filter(_._1.contains("Exchange hashpartitioning"))
      .filterNot { case (l, i) =>
        lines.take(i).exists(pp =>
          pp.contains("BroadcastExchange") && indent(pp) < indent(l))
      }
      .map(_._1)
  }
}

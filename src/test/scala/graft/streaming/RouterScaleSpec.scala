package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Scale probe for the two routing strategies (ws-router.ts:147-241).
  *
  * `Router.route` is documented O(subscriptions): one plan branch per
  * subscription. `Router.routeByTopic` is the scale path: a constant
  * two-join plan (broadcast hash join on the exact topics, broadcast
  * nested-loop for the wildcard bucket) whatever the subscription count.
  * This suite validates the claim three ways: the two strategies agree
  * row-for-row, the plan shapes scale as documented (constant joins vs
  * linear union fan-out), and the measured wall-time curve at
  * 100/1k/10k subscriptions is near-flat for the topic map while the
  * per-subscription plan grows with the subscription count.
  */
class RouterScaleSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  // the session outlives this suite; drop the cached probe input so its
  // blocks don't stay pinned in the shared test JVM for later suites
  override def afterAll(): Unit = events.unpersist(blocking = false)

  private val nEvents = 10000

  /** Actions-shaped events over a 100x100 (contract, action) topic space. */
  private lazy val events: DataFrame = spark.range(nEvents).select(
    col("id").as("seq"),
    struct(
      concat(lit("c"), col("id") % 100).as("account"),
      concat(lit("a"), col("id") % 137 % 100).as("name"),
      lit("{}").as("data")).as("act"),
    array(concat(lit("u"), col("id") % 50)).as("notified"))
    .cache()

  /** n exact-topic subscriptions (every 10th action-wildcarded) plus 50
    * contract-wildcard subscriptions — the reference's `*` relay bucket.
    */
  private def subscriptions(n: Int): Seq[Subscription] = {
    val exact = (0 until n).map { i =>
      Subscription(s"s$i", contract = s"c${i % 100}",
        action = if (i % 10 == 0) "*" else s"a${(i / 100) % 100}")
    }
    val wild = (0 until 50).map(i => Subscription(s"w$i", action = s"a$i"))
    exact ++ wild
  }

  private def subTable(n: Int): DataFrame =
    subscriptions(n).map(s => (s.id, s.contract, s.action))
      .toDF("sub_id", "contract", "action")

  test("route and routeByTopic agree row-for-row at 200 subscriptions") {
    // compared as collected, sorted multisets: an `except` over the
    // 250-branch union pushes its anti join into every branch, 500
    // broadcasts built on the driver, enough to starve the test JVM
    def rows(df: DataFrame): Seq[(Long, String)] =
      df.select($"seq", $"sub_id").as[(Long, String)].collect().toSeq.sorted
    val byBranch = rows(Router.route(events, subscriptions(200)))
    val byTopic = rows(Router.routeByTopic(events, subTable(200)))
    assert(byBranch.nonEmpty)
    assert(byBranch === byTopic)
  }

  test("plan shape: topic map stays two joins at 10k subs; route grows one branch per sub") {
    def joins(df: DataFrame): Int =
      df.queryExecution.executedPlan.toString
        .linesIterator.count(l => l.contains("Join"))
    val small = joins(Router.routeByTopic(events, subTable(100)))
    val large = joins(Router.routeByTopic(events, subTable(10000)))
    assert(small === large, "topic-map join count must not grow with subscriptions")
    assert(large <= 4) // exact + wildcard bucket (a join may split into stages)

    def unionWidth(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case u: Union => u.children.size }.sum
    val w50 = unionWidth(Router.route(events, subscriptions(50)))
    val w200 = unionWidth(Router.route(events, subscriptions(200)))
    assert(w200 - w50 === 150, "route is one plan branch per subscription")
  }

  test("measured curve: topic-map routing is near-flat from 100 to 10k subs") {
    def timed(df: DataFrame): Double = {
      val t0 = System.nanoTime(); df.count(); (System.nanoTime() - t0) / 1e9
    }
    // warm both paths once so codegen/session setup is off the curve
    timed(Router.routeByTopic(events, subTable(100)))
    timed(Router.route(events, subscriptions(30)))

    val topicCurve = Seq(100, 1000, 10000).map { n =>
      n -> (1 to 3).map(_ => timed(Router.routeByTopic(events, subTable(n)))).min
    }
    val branchCurve = Seq(30, 100, 200).map { n =>
      n -> timed(Router.route(events, subscriptions(n)))
    }
    info(s"routeByTopic secs by subs: $topicCurve")
    info(s"route secs by subs: $branchCurve")

    // the documented claim, with generous headroom against CI noise: a
    // 100x subscription increase must not cost anywhere near 100x — the
    // broadcast build is the only part that grows.
    val t100 = topicCurve.head._2
    val t10k = topicCurve.last._2
    assert(t10k < t100 * 10,
      f"routeByTopic should be near-flat: 100 subs=$t100%.2fs, 10k subs=$t10k%.2fs")
    // and the per-branch plan is already slower at 200 subs than the
    // topic map at 10k — the reason routeByTopic exists.
    assert(branchCurve.last._2 > t10k,
      "route(200) should already cost more than routeByTopic(10k)")
  }
}

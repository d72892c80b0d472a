package pipebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark runtime counters of one job group (or of all groups). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var schedulerDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L

  def add(o: Counters): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    gcMs += o.gcMs; schedulerDelayMs += o.schedulerDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    bytesRead += o.bytesRead; recordsRead += o.recordsRead; bytesWritten += o.bytesWritten
  }
}

/** Collects job, stage and task counters keyed by the job group the
  * submitting thread had set. The benchmark sets one group per traced
  * call; a streaming query's micro-batches run under its run id, which
  * the span registers as an alias.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, Counters]()
  val total = new Counters

  private def of(g: String): Counters = byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
    val c = of(g)
    c.synchronized(c.jobs += 1)
    total.synchronized(total.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    c.synchronized(c.stages += 1)
    total.synchronized(total.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val d = new Counters
    d.tasks = 1
    d.taskMs = m.executorRunTime
    d.gcMs = m.jvmGCTime
    // the scheduler-delay formula of Spark's own UI
    d.schedulerDelayMs = math.max(0L, e.taskInfo.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
    d.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
    d.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
    d.bytesRead = m.inputMetrics.bytesRead
    d.recordsRead = m.inputMetrics.recordsRead
    d.bytesWritten = m.outputMetrics.bytesWritten
    of(stageGroup.getOrDefault(e.stageId, "")).add(d)
    total.add(d)
  }
}

/** One parquet write the engine made, as its write job reported it:
  * files and partition directories written, and the rows each scan
  * feeding the write read, by scanned root path. A stream's micro-batch
  * reaches `foreachBatch` as an RDD scan, keyed [[Write.Batch]].
  */
final case class Write(path: String, files: Long, parts: Long, scanned: Seq[(String, Long)]) {
  def rowsScanned(root: String): Long = scanned.collect { case (`root`, n) => n }.sum
}

object Write {
  val Batch = "<micro-batch>"
}

/** Records every file write of the session and of the streams it
  * starts (a stream's session inherits the listeners registered before
  * it starts), from the executed plan of the write command.
  */
final class WriteListener extends QueryExecutionListener {
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[Write]()

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other.children.flatMap(nodes)
  })

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    nodes(qe.executedPlan).foreach {
      case w @ DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
        def m(k: String) = c.metrics.get(k).map(_.value).getOrElse(0L)
        val scanned = nodes(w.child).collect {
          case s: FileSourceScanExec =>
            s.relation.location.rootPaths.map(_.toUri.getPath -> s.metrics("numOutputRows").value)
          case s: RDDScanExec => Seq(Write.Batch -> s.metrics("numOutputRows").value)
        }.flatten
        writes.add(Write(c.outputPath.toUri.getPath, m("numFiles"), m("numParts"), scanned))
      case _ =>
    }

  def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def to(path: java.nio.file.Path): Seq[Write] = writes.asScala.toSeq.filter(_.path == path.toString)
}

/** One traced call. `layer` is one of the benchmark's layer names. */
final case class Span(id: Long, parent: Long, traceId: Long, name: String, layer: String,
    startNs: Long, var endNs: Long = 0L, attrs: scala.collection.mutable.Map[String, Double] =
      scala.collection.mutable.Map.empty) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into each layer. When disabled,
  * [[span]] only runs its body: untraced runs set no job groups and
  * register no listener.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val aliases = new ConcurrentHashMap[Long, java.util.List[String]]()
  private val current = new ThreadLocal[Span]
  val listener: GroupListener = if (enabled) new GroupListener else null
  val writes: WriteListener = if (enabled) new WriteListener else null
  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(writes)
  }

  def newTrace(): Long = ids.incrementAndGet()

  /** The innermost open span of the calling thread, or null. */
  def open: Span = current.get()

  /** Run `body` in a new span. The parent is the calling thread's open
    * span unless `parentSpan` names one opened on another thread.
    */
  def span[T](layer: String, name: String, traceId: Long = 0L, parentSpan: Span = null)(body: Span => T): T = {
    if (!enabled) return body(null)
    val outer = current.get()
    val parent = if (parentSpan != null) parentSpan else outer
    val tid = if (traceId != 0L) traceId else if (parent != null) parent.traceId else newTrace()
    val s = Span(ids.incrementAndGet(), if (parent == null) 0L else parent.id, tid, name, layer, System.nanoTime())
    val group = s"span-${s.id}"
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    current.set(s)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "", interruptOnCancel = false)
      current.set(outer)
      spans.add(s)
    }
  }

  /** Attribute a streaming query's micro-batch jobs to the span. */
  def alias(s: Span, runId: String): Unit =
    if (s != null) aliases.computeIfAbsent(s.id, _ => new java.util.concurrent.CopyOnWriteArrayList[String]()).add(runId)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.BusDrain(sc)

  /** Counters of one span's own job group and its aliases. */
  def counters(s: Span): Counters = {
    val c = new Counters
    val groups = s"span-${s.id}" +: Option(aliases.get(s.id)).map(_.asScala.toSeq).getOrElse(Nil)
    groups.foreach(g => Option(listener.byGroup.get(g)).foreach(c.add))
    c
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time of each span: its duration minus the union of its
    * children's intervals.
    */
  def selfMs: Map[Long, Double] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> ((s.endNs - s.startNs - covered) / 1e6)
    }.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"trace_id":${s.traceId},"name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":{$attrs}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One call into a module of the program, recorded around the call by the
  * benchmark. Counters are read at both boundaries. */
final class Span(val id: Long, val parent: Long, val layer: String,
                 val op: String, val round: Int, val startNs: Long,
                 val diskStart: Long, val metastoreStart: Long,
                 val foldStart: Long) {
  var endNs = 0L
  var diskEnd = 0L
  var metastoreEnd = 0L
  var foldEnd = 0L
  def durNs: Long = endNs - startNs
}

/** Spark task totals of one span (or of one traced segment). */
final class TaskTotals {
  var jobs = 0L
  var tasks = 0L
  var emptyTasks = 0L
  var waitMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  def add(o: TaskTotals): Unit = {
    jobs += o.jobs; tasks += o.tasks; emptyTasks += o.emptyTasks
    waitMs += o.waitMs; cpuNs += o.cpuNs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes
  }
}

object Trace {
  /** Local property carrying the id of the innermost open span. Spark's
    * local properties are inherited by threads created under them, so
    * jobs submitted from `Bucketing.concurrently`'s sibling thread and
    * from a stream's execution thread carry the span of the call that
    * created the thread. */
  val SpanProp = "perfbench.span"
  /** Local property naming the traced segment; jobs without it are not
    * part of the traced run (warm-up, the untraced comparison segment). */
  val SegmentProp = "perfbench.segment"
  val ExecIdProp = "spark.sql.execution.id"
  val Untagged = 0L
}

/** Attributes every job, stage and task of the traced segment to the span
  * that submitted it, and keeps the segment's run totals beside. */
final class JobListener(segment: String) extends SparkListener {
  private case class StageRec(span: Long, submittedMs: Long)
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val bySpan = new ConcurrentHashMap[Long, TaskTotals]()
  /** Every task of the segment, however attributed. */
  val run = new TaskTotals
  private val execSpan = new ConcurrentHashMap[Long, Long]()

  private def inSegment(p: java.util.Properties): Boolean =
    p != null && segment == p.getProperty(Trace.SegmentProp)
  private def spanOf(p: java.util.Properties): Long =
    Option(p.getProperty(Trace.SpanProp)).map(_.toLong).getOrElse(Trace.Untagged)
  private def totals(span: Long): TaskTotals =
    bySpan.computeIfAbsent(span, _ => new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (inSegment(e.properties)) {
      val span = spanOf(e.properties)
      totals(span).jobs += 1
      run.jobs += 1
      Option(e.properties.getProperty(Trace.ExecIdProp))
        .foreach(x => execSpan.putIfAbsent(x.toLong, span))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (inSegment(e.properties)) {
      val info = e.stageInfo
      stages.put((info.stageId, info.attemptNumber()), StageRec(spanOf(e.properties),
        info.submissionTime.getOrElse(System.currentTimeMillis())))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val rec = stages.get((e.stageId, e.stageAttemptId))
    // a task of a stage submitted outside the segment is not ours
    if (rec == null) return
    val m = e.taskMetrics
    val t = totals(rec.span)
    Seq(t, run).foreach { x =>
      x.tasks += 1
      if (m != null) {
        val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        if (read == 0) x.emptyTasks += 1
        x.cpuNs += m.executorCpuTime
        x.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        x.spillBytes += m.diskBytesSpilled
      }
      x.waitMs += math.max(0L, e.taskInfo.launchTime - rec.submittedMs)
    }
  }

  def spanTotals: Map[Long, TaskTotals] = synchronized(bySpan.asScala.toMap)
  def execToSpan: Map[Long, Long] = synchronized(execSpan.asScala.toMap)
}

/** SQL metrics of one executed plan, reduced to the figures the lazy layers
  * (CSV scan, broadcast star join, mart aggregation, sink write) report. */
final case class PlanStats(csvScanMs: Long = 0, csvRows: Long = 0,
                           broadcastMs: Long = 0, joinRowsOut: Long = 0,
                           aggMs: Long = 0, aggShuffleBytes: Long = 0,
                           spillBytes: Long = 0, filesWritten: Long = 0,
                           bytesWritten: Long = 0, rowsWritten: Long = 0,
                           commitMs: Long = 0) {
  def +(o: PlanStats): PlanStats = PlanStats(csvScanMs + o.csvScanMs,
    csvRows + o.csvRows, broadcastMs + o.broadcastMs,
    joinRowsOut + o.joinRowsOut, aggMs + o.aggMs,
    aggShuffleBytes + o.aggShuffleBytes, spillBytes + o.spillBytes,
    filesWritten + o.filesWritten, bytesWritten + o.bytesWritten,
    rowsWritten + o.rowsWritten, commitMs + o.commitMs)
}

object PlanStats extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.adaptive.QueryStageExec
  import org.apache.spark.sql.execution.command.DataWritingCommandExec
  import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec, ENSURE_REQUIREMENTS}
  import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def isCsvScan(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec =>
      s.relation.fileFormat.getClass.getSimpleName.startsWith("CSV")
    case _ => false
  }

  /** True when the code-generated stage rooted at `p` reads a CSV file
    * (the walk stops at the stage's inputs; a row-based scan is one). */
  private def stageReadsCsv(p: SparkPlan): Boolean = p match {
    case i: InputAdapter => isCsvScan(i.child)
    case _: Exchange | _: QueryStageExec => false
    case s if isCsvScan(s) => true
    case other => other.children.exists(stageReadsCsv)
  }

  def of(plan: SparkPlan): PlanStats = {
    // distinct node instances: a reused exchange points back at its origin
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val nodes = collectWithSubqueries(plan) { case n => n }.filter(seen.add)
    val bhj = nodes.collect { case j: BroadcastHashJoinExec => j }
    val nested = bhj.flatMap(j => j.children.flatMap(c =>
      collect(c) { case n: BroadcastHashJoinExec => n }))
    val topJoins = bhj.filterNot(j => nested.exists(_ eq j))
    nodes.foldLeft(PlanStats(joinRowsOut = topJoins.map(metric(_, "numOutputRows")).sum)) {
      (acc, n) => n match {
        case w: WholeStageCodegenExec if stageReadsCsv(w.child) =>
          acc.copy(csvScanMs = acc.csvScanMs + metric(w, "pipelineTime"))
        case s: FileSourceScanExec if isCsvScan(s) =>
          acc.copy(csvRows = acc.csvRows + metric(s, "numOutputRows"))
        case b: BroadcastExchangeExec =>
          acc.copy(broadcastMs = acc.broadcastMs + metric(b, "collectTime") +
            metric(b, "buildTime") + metric(b, "broadcastTime"))
        case s: ShuffleExchangeExec if s.shuffleOrigin == ENSURE_REQUIREMENTS =>
          acc.copy(aggShuffleBytes = acc.aggShuffleBytes + metric(s, "shuffleBytesWritten"))
        case d: DataWritingCommandExec =>
          val m = d.cmd.metrics
          def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
          acc.copy(filesWritten = acc.filesWritten + v("numFiles"),
            bytesWritten = acc.bytesWritten + v("numOutputBytes"),
            rowsWritten = acc.rowsWritten + v("numOutputRows"),
            commitMs = acc.commitMs + v("taskCommitTime") + v("jobCommitTime"))
        case other =>
          acc.copy(aggMs = acc.aggMs + metric(other, "aggTime"),
            spillBytes = acc.spillBytes + metric(other, "spillSize"))
      }
    }
  }
}

/** Reads the executed plan of every SQL execution, keyed by the execution
  * id its jobs carry. */
final class PlanListener extends SparkListener {
  private val byExec = new ConcurrentHashMap[Long, PlanStats]()
  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      val qe = org.apache.spark.sql.PerfbenchShim.queryExecution(e)
      if (qe != null) byExec.put(e.executionId, PlanStats.of(qe.executedPlan))
    case _ =>
  }
  def plans: Map[Long, PlanStats] = byExec.asScala.toMap
}

/** Records spans around the benchmark's calls into the program, between
  * `begin` and `end` (warm-up units stay out). Disabled, it only runs the
  * body: untraced runs pay one branch per call. */
final class Tracer(spark: SparkSession, val enabled: Boolean,
                   val segment: String) {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1L
  /** Round (unit index) stamped on the spans opened from now on. */
  var round = 0
  private var open = false
  /** True between `begin` and `end`: only then are spans recorded. */
  def recording: Boolean = enabled && open
  val jobs: Option[JobListener] = if (enabled) Some(new JobListener(segment)) else None
  val plans: Option[PlanListener] = if (enabled) Some(new PlanListener) else None

  private def sc = spark.sparkContext

  def begin(): Unit = if (enabled) {
    open = true
    jobs.foreach(sc.addSparkListener)
    plans.foreach(sc.addSparkListener)
    sc.setLocalProperty(Trace.SegmentProp, segment)
  }

  /** Closes the segment and waits until the listeners saw every event. */
  def end(): Unit = if (enabled) {
    open = false
    sc.setLocalProperty(Trace.SegmentProp, null)
    org.apache.spark.sql.PerfbenchShim.drain(sc)
    jobs.foreach(sc.removeSparkListener)
    plans.foreach(sc.removeSparkListener)
  }

  def span[T](layer: String, op: String)(body: => T): T =
    if (!recording) body
    else {
      val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0L), layer,
        op, round, System.nanoTime(), Stats.diskWriteBytes(),
        graft.io.Bucketing.metastoreCalls.get(), graft.io.FoldEvents.count)
      nextId += 1
      val prev = sc.getLocalProperty(Trace.SpanProp)
      sc.setLocalProperty(Trace.SpanProp, s.id.toString)
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        s.diskEnd = Stats.diskWriteBytes()
        s.metastoreEnd = graft.io.Bucketing.metastoreCalls.get()
        s.foldEnd = graft.io.FoldEvents.count
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanProp, prev)
        spans += s
      }
    }

  /** Duration of each span minus the time its child spans cover. */
  def selfNs: Map[Long, Long] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.map(s => s.id -> math.max(0L, s.durNs - childTime.getOrElse(s.id, 0L))).toMap
  }
}

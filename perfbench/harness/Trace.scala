package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, SortExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer counters that add up job, stage and task metrics. */
final class Acc {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inBytes, inRows, shWrite, shRead, spill, outBytes, outRows = 0L
  var peakMem = 0L

  def addTask(m: org.apache.spark.executor.TaskMetrics, failed: Boolean): Unit = {
    tasks += 1
    if (failed) failedTasks += 1
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inBytes += m.inputMetrics.bytesRead
      inRows += m.inputMetrics.recordsRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      spill += m.diskBytesSpilled + m.memoryBytesSpilled
      outBytes += m.outputMetrics.bytesWritten
      outRows += m.outputMetrics.recordsWritten
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }

  def add(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inBytes += o.inBytes; inRows += o.inRows; shWrite += o.shWrite; shRead += o.shRead
    spill += o.spill; outBytes += o.outBytes; outRows += o.outRows
    peakMem = math.max(peakMem, o.peakMem)
  }
}

/** Static shape counts of one physical plan, subqueries included. */
object PlanShape {
  val names: Seq[String] = Seq("scans", "exchanges", "reused_exchanges", "smj", "bhj",
    "shj", "bnlj", "windows", "keyless_windows", "sorts", "topk_nodes", "graft_in_join")

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => nodes(q.plan)
    case r: ReusedExchangeExec    => Seq(r)
    case o => o +: (o.children.flatMap(nodes) ++ o.subqueries.flatMap(nodes))
  }

  private def graftExprs(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    e.collect { case x if x.getClass.getName.startsWith("graft.") => x }.size

  def apply(plan: SparkPlan): Map[String, Long] = {
    val c = mutable.Map[String, Long]().withDefaultValue(0L)
    nodes(plan).foreach { n =>
      n match {
        case _: FileSourceScanExec | _: BatchScanExec => c("scans") += 1
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => c("exchanges") += 1
        case _: ReusedExchangeExec => c("reused_exchanges") += 1
        case _: SortMergeJoinExec => c("smj") += 1
        case _: BroadcastHashJoinExec => c("bhj") += 1
        case _: ShuffledHashJoinExec => c("shj") += 1
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => c("bnlj") += 1
        case w: WindowExec =>
          c("windows") += 1
          if (w.partitionSpec.isEmpty) c("keyless_windows") += 1
        case _: SortExec => c("sorts") += 1
        case _: TakeOrderedAndProjectExec => c("topk_nodes") += 1
        case g if g.getClass.getName.startsWith("graft.") &&
            g.getClass.getSimpleName.contains("TopK") => c("topk_nodes") += 1
        case _ =>
      }
      n match {
        case j: BaseJoinExec =>
          c("graft_in_join") += (j.leftKeys ++ j.rightKeys ++ j.condition.toSeq).map(graftExprs).sum
        case j: CartesianProductExec =>
          c("graft_in_join") += j.condition.map(graftExprs).getOrElse(0)
        case _ =>
      }
    }
    names.map(n => n -> c(n)).toMap
  }
}

/** Span tree, job attribution and streaming progress of a traced run.
  *
  * The runner opens one span per key and one child span per phase
  * (build, plan, action) and tags the driver thread with the key and
  * phase, so a job started from that thread carries them in its
  * properties. A job without the tags (a streaming micro-batch thread)
  * is charged to the phase whose interval holds its start time, which
  * is unambiguous because keys run one at a time. Spans stay in memory
  * until [[writeSpans]].
  */
final class Trace(runId: String) {
  val KeyProp = "perfbench.key"
  val PhaseProp = "perfbench.phase"

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
  final case class Interval(owner: String, phase: String, start: Long, end: Long, span: Int)
  private final case class Owned(time: Long, key: String, phase: String)
  private final case class Batch(time: Long, durMs: Long, inRows: Long,
    stateRows: Long, commitMs: Long, query: String, id: Long)

  val spans = mutable.ArrayBuffer[Span]()
  val intervals = mutable.ArrayBuffer[Interval]()
  private var nextSpan = 0
  def span(parent: Int, name: String, start: Long, end: Long): Int = {
    nextSpan += 1
    spans += Span(nextSpan, parent, name, start, end)
    nextSpan
  }

  def close(id: Int, end: Long): Unit = spans(id - 1) = spans(id - 1).copy(end = end)

  private val jobs = mutable.LinkedHashMap[Int, (Owned, Long)]()
  private val stageOwner = mutable.Map[Int, Owned]()
  private val stageAcc = mutable.Map[Int, Acc]()
  private val stageCount = mutable.Map[Int, Long]().withDefaultValue(0L)
  private val batches = mutable.ArrayBuffer[Batch]()
  private val queriesStarted = mutable.ArrayBuffer[Long]()
  val totals = new Acc

  private def owned(time: Long, p: Properties): Owned =
    if (p == null) Owned(time, null, null)
    else Owned(time, p.getProperty(KeyProp), p.getProperty(PhaseProp))

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs(e.jobId) = (owned(e.time, e.properties), e.time)
      totals.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach { case (o, _) => jobs(e.jobId) = (o, e.time) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        stageOwner.getOrElseUpdate(e.stageInfo.stageId, owned(t, e.properties))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stageCount(e.stageInfo.stageId) += 1
        totals.stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val failed = e.reason != org.apache.spark.Success
      stageAcc.getOrElseUpdate(e.stageId, new Acc).addTask(e.taskMetrics, failed)
      totals.addTask(e.taskMetrics, failed)
    }
    // Streaming progress reaches every SparkListener, from queries of
    // any session; a listener on one session's `streams` sees only its own.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: StreamingQueryListener.QueryStartedEvent => Trace.this.synchronized {
        queriesStarted += java.time.Instant.parse(q.timestamp).toEpochMilli
      }
      case q: StreamingQueryListener.QueryProgressEvent => Trace.this.synchronized {
        val p = q.progress
        batches += Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
          Option(p.batchDuration).map(_.longValue).getOrElse(0L), p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.commitTimeMs).sum,
          Option(p.name).getOrElse(p.id.toString), p.batchId)
      }
      case _ =>
    }
  }

  private def ownerAt(o: Owned): Option[Interval] =
    if (o.key != null) intervals.find(i => i.owner == o.key && i.phase == o.phase)
    else intervals.find(i => i.start <= o.time && o.time <= i.end)

  /** Per (owner, phase) job, stage and task counters, the streaming
    * counters per owner, and the number of jobs charged to nobody. */
  final case class Attribution(byPhase: Map[(String, String), Acc],
    streaming: Map[String, Map[String, Double]], unattributed: Long)

  def attribute(): Attribution = synchronized {
    val by = mutable.Map[(String, String), Acc]()
    def acc(i: Interval) = by.getOrElseUpdate((i.owner, i.phase), new Acc)
    var lost = 0L
    jobs.foreach { case (id, (o, end)) =>
      ownerAt(o) match {
        case Some(i) =>
          acc(i).jobs += 1
          span(i.span, s"job:$id", o.time, end)
        case None => lost += 1
      }
    }
    (stageAcc.keySet ++ stageCount.keySet).foreach { sid =>
      stageOwner.get(sid).flatMap(ownerAt).foreach { i =>
        val c = acc(i); stageAcc.get(sid).foreach(c.add); c.stages += stageCount(sid)
      }
    }
    val stream = mutable.Map[String, mutable.Map[String, Double]]()
    def sacc(owner: String) =
      stream.getOrElseUpdate(owner, mutable.Map(Runner.StreamNames.map(_ -> 0.0): _*))
    queriesStarted.foreach { t =>
      intervals.find(i => i.start <= t && t <= i.end).foreach(i => sacc(i.owner)("queries") += 1)
    }
    val lastState = mutable.Map[String, (String, Long, Long)]()
    batches.foreach { b =>
      intervals.find(i => i.start <= b.time && b.time <= i.end).foreach { i =>
        val s = sacc(i.owner)
        s("batches") += 1; s("batch_s") += b.durMs / 1e3
        s("input_rows") += b.inRows; s("state_commit_ms") += b.commitMs
        if (lastState.get(b.query).forall(_._2 <= b.id)) lastState(b.query) = (i.owner, b.id, b.stateRows)
        val keySpan = spans.find(_.id == i.span).map(_.parent).getOrElse(i.span)
        span(keySpan, s"batch:${b.query}#${b.id}", b.time, b.time + b.durMs)
      }
    }
    lastState.values.foreach { case (owner, _, rows) => sacc(owner)("state_rows") += rows }
    Attribution(by.toMap, stream.view.mapValues(_.toMap).toMap, lost)
  }

  def writeSpans(path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${Runner.jstr(s.name)},""" +
        s""""start_ms":${s.start},"end_ms":${s.end},"run":${Runner.jstr(runId)}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

package perfbench

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One micro-batch, from its `StreamingQueryProgress`. */
final case class BatchTrace(
    runId: String, batchId: Long, triggerMs: Long, addBatchMs: Long, queryPlanningMs: Long,
    walCommitMs: Long, commitOffsetsMs: Long, latestOffsetMs: Long, inputRows: Long,
    stateCommitMs: Long, stateRows: Long, stateMemoryBytes: Long)

/** Everything Spark's listeners reported for one timed operation. Written by
  * listener threads, read after [[Tracer.drain]]; guarded by `this`. */
final class OpTrace {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, waitMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes, peakMemBytes = 0L
  /** Catalyst phases of the frame `run` returned (recorded synchronously). */
  var frameParsingMs, frameAnalysisMs = 0.0
  /** Catalyst phases of the noop-sink write, from its QueryExecution. */
  var actionAnalysisMs, actionOptimizationMs, actionPlanningMs = 0.0
  var actionSeen = false
  val batches = ArrayBuffer[BatchTrace]()
}

/** Attributes Spark's instruments to the benchmark's operations.
  *
  * Every operation runs under its own job group (`pb:<seq>:build` while its
  * frame is built, `pb:<seq>:exec` for the timed action). A streaming query
  * started inside an operation is tied to it by `runId` in
  * `onQueryStarted`, which Spark calls before `start()` returns, so its
  * micro-batch jobs and progress events are attributed by id, never by a
  * time window. The noop write's QueryExecution is matched by the identity
  * of the frame's plan inside the write command. What cannot be attributed
  * is counted, not dropped. */
final class Tracer(spark: SparkSession) {
  private val ops = new ConcurrentHashMap[Int, OpTrace]()
  private val byRun = new ConcurrentHashMap[String, OpTrace]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageOwner = new ConcurrentHashMap[Int, Option[OpTrace]]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val pendingActions = new CopyOnWriteArrayList[(LogicalPlan, OpTrace)]()
  private val runsStarted = ConcurrentHashMap.newKeySet[String]()
  private val runsEnded = ConcurrentHashMap.newKeySet[String]()
  private val drainsSeen = ConcurrentHashMap.newKeySet[String]()
  private val auxStages = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var current: OpTrace = _

  val unattributedJobs = new AtomicLong()
  val unattributedTaskMs = new AtomicLong()
  val unattributedBatches = new AtomicLong()

  private def owner(group: String): Option[OpTrace] =
    if (group == null) None
    else if (group.startsWith("pb:")) group.split(':') match {
      case Array(_, seq, _) if seq.forall(_.isDigit) => Option(ops.get(seq.toInt))
      case _                                          => None
    }
    else Option(byRun.get(group))

  private def groupOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty("spark.jobGroup.id")

  /** The harness's own jobs: listener drains and result checks. */
  private def isAux(group: String) = group != null && group.startsWith("pbaux:")

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      if (g != null) jobGroup.put(e.jobId, g)
      if (!isAux(g)) owner(g) match {
        case Some(o) => o.synchronized { o.jobs += 1 }
        case None    => unattributedJobs.incrementAndGet()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val g = jobGroup.remove(e.jobId)
      if (isAux(g)) drainsSeen.add(g)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = groupOf(e.properties)
      val o = if (isAux(g)) None else owner(g)
      if (isAux(g)) auxStages.add(e.stageInfo.stageId)
      stageOwner.put(e.stageInfo.stageId, o)
      stageSubmitMs.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      o.foreach(x => x.synchronized { x.stages += 1 })
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) stageOwner.getOrDefault(e.stageId, None) match {
        case Some(o) => o.synchronized {
          o.tasks += 1
          o.cpuNs += m.executorCpuTime
          o.runMs += m.executorRunTime
          o.gcMs += m.jvmGCTime
          o.waitMs += math.max(0L, e.taskInfo.launchTime - stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime))
          o.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          o.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          o.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          o.peakMemBytes = math.max(o.peakMemBytes, m.peakExecutionMemory)
        }
        case None if !auxStages.contains(e.stageId) => unattributedTaskMs.addAndGet(m.executorRunTime)
        case None                                     => ()
      }
    }
  }

  private val actions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = attribute(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = attribute(qe)
  }

  private def attribute(qe: QueryExecution): Unit =
    pendingActions.asScala.find { case (plan, _) => qe.logical.find(_ eq plan).isDefined }.foreach {
      case (_, o) =>
        pendingActions.removeIf(_._2 eq o)
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        o.synchronized {
          o.actionSeen = true
          o.actionAnalysisMs += ms("analysis")
          o.actionOptimizationMs += ms("optimization")
          o.actionPlanningMs += ms("planning")
        }
    }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      runsStarted.add(e.runId.toString)
      val o = current
      if (o != null) byRun.put(e.runId.toString, o)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val st = p.stateOperators
      val b = BatchTrace(p.runId.toString, p.batchId, ms("triggerExecution"), ms("addBatch"),
        ms("queryPlanning"), ms("walCommit"), ms("commitOffsets"), ms("latestOffset"), p.numInputRows,
        st.map(_.commitTimeMs).sum, st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum)
      Option(byRun.get(b.runId)) match {
        case Some(o) => o.synchronized { o.batches += b }
        case None    => unattributedBatches.incrementAndGet()
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      runsEnded.add(e.runId.toString)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(actions)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(actions)
    spark.streams.removeListener(streams)
  }

  def begin(seq: Int): OpTrace = {
    val o = new OpTrace
    ops.put(seq, o)
    current = o
    o
  }

  def end(): Unit = current = null

  def frameBuilt(o: OpTrace, df: DataFrame): Unit = {
    val ph = df.queryExecution.tracker.phases
    o.frameParsingMs = ph.get("parsing").map(_.durationMs.toDouble).getOrElse(0.0)
    o.frameAnalysisMs = ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
    // the write command embeds the frame's plan; either instance may be it
    pendingActions.add(df.queryExecution.analyzed -> o)
    pendingActions.add(df.queryExecution.commandExecuted -> o)
  }

  private var drains = 0

  /** Wait until every event posted so far has reached the listeners: a marker
    * job's end on the shared bus queue, and the termination event of every
    * streaming run on the streams queue. Throws if they do not arrive. */
  def drain(): Unit = {
    drains += 1
    val tag = s"pbaux:drain:$drains"
    val sc = spark.sparkContext
    sc.setJobGroup(tag, "perfbench listener drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!drainsSeen.contains(tag) || !runsEnded.containsAll(runsStarted)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"listener events did not drain ($tag)")
      Thread.sleep(2)
    }
    pendingActions.clear()
  }

  def op(seq: Int): Option[OpTrace] = Option(ops.get(seq))
}

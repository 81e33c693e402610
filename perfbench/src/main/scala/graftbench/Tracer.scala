package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one op, or one layer call inside an op (build, execute, a store
  * call, a batch). Times are epoch milliseconds with sub-ms precision, on
  * the same clock as Spark's listener events.
  */
final case class Span(id: Long, parent: Long, op: Int, name: String, start: Double, var end: Double)

/** One Spark job, parented to the span that was open on the thread that
  * submitted it (the span id rides on a Spark local property). A job from a
  * thread that started outside any span (a long-running streaming query's
  * thread) has span 0 until [[Layers.parent]] places it by time.
  */
final class JobRec(
    val id: Int, var span: Long, val start: Double, val site: String, val touchesStore: Boolean) {
  var end: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var runMs, cpuMs, gcMs, delayMs = 0.0
  var shuffleWrite, shuffleRead, spill, result = 0L
}

/** One Catalyst phase of one executed query, with the time spent in
  * graft's own optimizer rules.
  */
final case class PhaseRec(phase: String, start: Double, end: Double, graftRulesMs: Double)

/** The benchmark's tracing, built only from Spark's public listener APIs.
  * Disabled, `span` just runs its body; enabled, spans stay in memory and
  * the listeners record every job, stage, task and executed query.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var currentOp = -1

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, JobRec]
  private val phases = mutable.ArrayBuffer.empty[PhaseRec]
  private val storeExecs = mutable.HashSet.empty[String]
  private var sentinelDone = false

  /** Directories of the versioned stores. Inside a streaming query every
    * job carries the query's start() call site, so a job there counts as a
    * store job when its SQL execution's plan reads or writes one of these.
    */
  @volatile var storeRoots: Seq[String] = Nil

  /** Epoch ms with nanoTime resolution. */
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).fold(0L)(_.toLong)
      // the result stage is created last, so it has the highest id; its
      // long call site names the code that ran the job
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      val j = new JobRec(e.jobId, span, e.time.toDouble, site, exec.exists(storeExecs))
      jobs(e.jobId) = j
      e.stageIds.foreach(stageToJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time.toDouble
        if (j.span == SentinelSpan) sentinelDone = true
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
          if storeRoots.exists(x.physicalPlanDescription.contains) =>
        Tracer.this.synchronized(storeExecs += x.executionId.toString)
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageToJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageToJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuMs += m.executorCpuTime / 1e6
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.result += m.resultSize
        val info = e.taskInfo
        // the Spark UI's scheduler delay: task wall not spent deserializing,
        // running or serializing the result
        j.delayMs += math.max(0L, info.finishTime - info.launchTime - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val rulesNs = qe.tracker.rules.collect { case (r, s) if r.startsWith("graft.") => s.totalTimeNs }.sum
      var first = true
      qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs).foreach { case (p, s) =>
        phases += PhaseRec(p, s.startTimeMs.toDouble, s.endTimeMs.toDouble,
          if (first) rulesNs / 1e6 else 0.0)
        first = false
      }
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Open the span of op `op`; every span and job until it closes belongs to it. */
  def op[A](op: Int, name: String)(body: => A): A = {
    currentOp = op
    try span(name)(body) finally currentOp = -1
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = synchronized {
        val s = Span(nextId, stack.headOption.fold(0L)(_.id), currentOp, name, now(), Double.NaN)
        nextId += 1
        spans += s
        stack = s :: stack
        s
      }
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = now()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until the listener bus has delivered every event posted so far:
    * run one tiny sentinel job and wait for its end event, which the bus
    * delivers after all earlier ones.
    */
  def drain(): Unit = if (enabled) {
    sc.setLocalProperty(SpanProp, SentinelSpan.toString)
    try spark.range(1).count() finally sc.setLocalProperty(SpanProp, null)
    val deadline = System.nanoTime() + 10e9.toLong
    while (!synchronized(sentinelDone) && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  def snapshot: (Seq[Span], Seq[JobRec], Seq[PhaseRec]) = synchronized {
    (spans.toList, jobs.values.filter(_.span != SentinelSpan).toList, phases.toList)
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
  private val SentinelSpan = -7L
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's listener timestamps. */
object Clock {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNanos = System.nanoTime()
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6

  /** Result of `body` and the seconds it took. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Phase markers on stderr, timed from JVM start. */
object Log {
  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2f s] $msg")
}

/** In-memory span store. Spans are kept until the run ends, then written
  * as JSON lines with their self time. With tracing off, nothing is
  * recorded. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** Time spent inside the benchmark's own listener callbacks. */
  val listenerNanos = new AtomicLong(0)

  /** Keep one span; returns its id for use as a parent. */
  def record(name: String, traceId: String, parent: Long, startMs: Double,
             endMs: Double, attrs: Map[String, Double] = Map.empty): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, parent, traceId, name, startMs, endMs, attrs))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def timedListener[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally listenerNanos.addAndGet(System.nanoTime() - t0)
  }

  def write(path: java.nio.file.Path): Unit = {
    val ss = all.sortBy(s => (s.startMs, s.id))
    val self = Stats.selfTimes(ss)
    val lines = ss.map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.traceId)},""" +
        s""""name":${Json.str(s.name)},"start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)},"self_ms":${Json.num(self(s.id))},""" +
        s""""attrs":{$attrs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}

/** Progress of one micro-batch, read from the streaming listener. */
final case class BatchProgress(batchId: Long, triggerStartMs: Double,
                               startLsn: Long, endLsn: Long, rows: Long,
                               durations: Map[String, Double])

/** Reads `StreamingQueryProgress`: offsets of each batch and the
  * durations Structured Streaming reports per trigger phase. */
final class StreamRecorder(tracer: Tracer) extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentHashMap[Long, BatchProgress]()
  private val LsnRe = """"lsn"\s*:\s*(-?\d+)""".r

  private def lsnOf(json: String): Long =
    Option(json).flatMap(j => LsnRe.findFirstMatchIn(j)).map(_.group(1).toLong).getOrElse(-1L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    tracer.timedListener {
      val p = e.progress
      if (p.sources.nonEmpty && p.numInputRows > 0) {
        val src = p.sources.head
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
        batches.put(p.batchId, BatchProgress(p.batchId, start,
          lsnOf(src.startOffset), lsnOf(src.endOffset), p.numInputRows, d))
      }
    }

  /** Highest end LSN any reported batch reached. */
  def committedLsn: Long =
    batches.values().asScala.map(_.endLsn).foldLeft(-1L)(math.max)

  def sorted: Seq[BatchProgress] = batches.values().asScala.toSeq.sortBy(_.batchId)
}

/** One finished Spark job and the task metrics of its stages. */
final case class JobRecord(jobId: Int, group: String, name: String,
                           site: String, startMs: Double, endMs: Double, tasks: Int,
                           taskRunMs: Double, shuffleWriteBytes: Long,
                           spillBytes: Long, sourceScan: Boolean,
                           sourceScanRunMs: Double)

/** Reads job, stage and task metrics. A job is attributed to the public
  * call it ran under by the job group the benchmark sets around that
  * call, and to a program module by its call site: the engine frames of
  * the stack that submitted it (or started its SQL execution). */
final class JobRecorder(tracer: Tracer) extends SparkListener {
  private final class Open(val jobId: Int, val group: String, val name: String,
                           val site: String, val startMs: Double, val stages: Set[Int])
  private final class StageAcc {
    var tasks = 0; var runMs = 0.0; var shuffleW = 0L; var spill = 0L
    var scan = false
  }
  private val open = mutable.Map.empty[Int, Open]
  private val stageAcc = mutable.Map.empty[Int, StageAcc]
  private val done = new ConcurrentLinkedQueue[JobRecord]()
  private val markers = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Call site (engine frames) and description of each SQL execution:
    * jobs that adaptive execution submits from its own threads carry only
    * the execution id, not the engine frames that started them. */
  private val executions = mutable.Map.empty[Long, (String, String)]

  private def engineFrames(stack: String): String =
    stack.linesIterator.filter(_.contains("graft.")).map(_.trim).mkString(" < ")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      tracer.timedListener(synchronized {
        executions(x.executionId) = (x.description, engineFrames(x.details))
      })
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = tracer.timedListener {
    synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val group = prop(JobRecorder.GroupKey).getOrElse("")
      val exec = prop("spark.sql.execution.id").flatMap(id => executions.get(id.toLong))
      val last = e.stageInfos.sortBy(_.stageId).lastOption
      // the long call site is the submitting stack: the engine's frames
      // in it name the module and method the job ran under
      val stageSite = last.map(st => engineFrames(st.details)).getOrElse("")
      val site = if (stageSite.nonEmpty) stageSite else exec.map(_._2).getOrElse("")
      val name = exec.map(_._1).getOrElse(last.map(_.name).getOrElse(""))
      open(e.jobId) = new Open(e.jobId, group, name, site, e.time.toDouble, e.stageIds.toSet)
      e.stageInfos.foreach { si =>
        val acc = stageAcc.getOrElseUpdate(si.stageId, new StageAcc)
        acc.scan = si.rddInfos.exists(r =>
          r.name.contains("DataSourceRDD") || r.scope.exists(_.name.contains("MicroBatchScan")))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tracer.timedListener {
    synchronized {
      val acc = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
      acc.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        acc.runMs += m.executorRunTime
        acc.shuffleW += m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = tracer.timedListener {
    synchronized {
      open.remove(e.jobId).foreach { o =>
        if (o.group.startsWith(JobRecorder.MarkerPrefix)) markers.put(o.group, true)
        else {
          val accs = o.stages.toSeq.flatMap(stageAcc.get)
          done.add(JobRecord(o.jobId, o.group, o.name, o.site, o.startMs, e.time.toDouble,
            accs.map(_.tasks).sum, accs.map(_.runMs).sum, accs.map(_.shuffleW).sum,
            accs.map(_.spill).sum, accs.exists(_.scan),
            accs.filter(_.scan).map(_.runMs).sum))
        }
        o.stages.foreach(stageAcc.remove)
      }
    }
  }

  def jobs: Seq[JobRecord] = done.asScala.toSeq.sortBy(_.jobId)

  /** Block until every event posted before this call has been delivered:
    * run a marker job and wait for its end on the same listener queue. */
  def drain(spark: SparkSession, timeoutMs: Long = 10000L): Unit = {
    val group = s"${JobRecorder.MarkerPrefix}${System.nanoTime()}"
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobRecorder.GroupKey)
    sc.setJobGroup(group, "listener drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobRecorder.GroupKey, prev)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!markers.containsKey(group) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }
}

object JobRecorder {
  val MarkerPrefix = "perfbench.marker."
  /** The local property `SparkContext.setJobGroup` sets. */
  val GroupKey = "spark.jobGroup.id"
}

/** Plan phases and scan file counts of one SQL execution: files the
  * scans kept after manifest pruning, of the files live in the scanned
  * snapshots. */
final case class PlanRecord(qeId: Long, analysisMs: Double, optimizationMs: Double,
                            planningMs: Double, filesRead: Long, filesLive: Long)

/** Reads each finished query's plan phases (analysis, optimization,
  * planning) and, from each lake scan's description (`files=kept/live`),
  * how many files it read. */
final class PlanRecorder(tracer: Tracer) extends QueryExecutionListener {
  val plans = new java.util.concurrent.ConcurrentHashMap[Long, PlanRecord]()

  private def phaseMs(qe: QueryExecution, name: String): Double =
    qe.tracker.phases.get(name).map(p => (p.endTimeMs - p.startTimeMs).toDouble)
      .getOrElse(0.0)

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case r: ReusedExchangeExec => leaves(r.child)
    case other =>
      val subs = other.subqueries.flatMap(leaves)
      if (other.children.isEmpty) other +: subs
      else other.children.flatMap(leaves) ++ subs
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    tracer.timedListener {
      val files = leaves(qe.executedPlan).flatMap(l =>
        PlanRecorder.FilesRe.findFirstMatchIn(l.simpleString(Int.MaxValue))
          .map(m => (m.group(1).toLong, m.group(2).toLong)))
      plans.put(qe.id, PlanRecord(qe.id, phaseMs(qe, "analysis"),
        phaseMs(qe, "optimization"), phaseMs(qe, "planning"),
        files.map(_._1).sum, files.map(_._2).sum))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanRecorder { val FilesRe = """files=(\d+)/(\d+)""".r }

package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval inside operation `op` (epoch ms). */
final case class Span(op: Long, name: String, start: Double, end: Double)

/** Per-operation Spark counts, gathered by the listener from the job group
  * the benchmark sets around every operation. */
final class OpExec {
  var jobs = 0; var stages = 0; var tasks = 0
  var sqlExecs = 0; var eagerSqlExecs = 0
  var busyMs = 0L; var runMs = 0L; var gcMs = 0L; var waitMs = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L
  val skews = scala.collection.mutable.ArrayBuffer[Double]()
}

/** Spans kept in memory plus a SparkListener and a QueryExecutionListener
  * installed from outside graft. Recording happens only while `on`; the
  * operation ids and job groups are set in both modes so the untraced run
  * does the same work minus the recording. */
final class Tracer(spark: SparkSession) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val enabled = new AtomicBoolean(false)
  def on: Boolean = enabled.get
  private val nextOp = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val execs = new ConcurrentHashMap[Long, OpExec]()
  private def exec(op: Long) = execs.computeIfAbsent(op, _ => new OpExec)
  /** Epoch ms at which each operation's final action started. */
  private val actionStart = new ConcurrentHashMap[Long, Double]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val openJobs = new ConcurrentHashMap[Int, (Long, Long)]()
  /** Executions reported by the QueryExecutionListener, for the
    * single-client workload whose action is a write command rather than
    * a Dataset action. */
  val commandQes = new ConcurrentLinkedQueue[(String, QueryExecution)]()

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.stripPrefix("op-").toLong)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) opOf(e.properties).foreach { op =>
      val x = exec(op)
      x.synchronized { x.jobs += 1 }
      e.stageIds.foreach(s => stageOp.put(s, op))
      openJobs.put(e.jobId, (op, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { case (op, t0) =>
        spans.add(Span(op, "spark.job", t0.toDouble, e.time.toDouble))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(stageOp.get(e.stageId)).foreach { op =>
      val x = exec(op)
      val m = e.taskMetrics
      x.synchronized {
        x.tasks += 1
        x.busyMs += e.taskInfo.duration
        if (m != null) {
          x.runMs += m.executorRunTime; x.gcMs += m.jvmGCTime
          x.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        Option(stageSubmit.get(e.stageId)).foreach(t => x.waitMs += math.max(0L, e.taskInfo.launchTime - t))
      }
      stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]()).add(e.taskInfo.duration)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val si = e.stageInfo
      val x = exec(op)
      val ds = Option(stageTaskMs.remove(si.stageId)).map(_.asScala.toSeq.sorted).getOrElse(Nil)
      x.synchronized {
        x.stages += 1
        if (ds.size >= 2) x.skews += ds.last.toDouble / math.max(1L, ds(ds.size / 2))
      }
      for (s <- si.submissionTime; c <- si.completionTime)
        spans.add(Span(op, "spark.stage", s.toDouble, c.toDouble))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if on =>
        s.jobGroupId.filter(_.startsWith("op-")).map(_.stripPrefix("op-").toLong).foreach { op =>
          val x = exec(op)
          x.synchronized {
            x.sqlExecs += 1
            if (Option(actionStart.get(op)).forall(s.time < _)) x.eagerSqlExecs += 1
          }
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) commandQes.add((funcName, qe))
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = if (!enabled.getAndSet(true)) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = if (enabled.getAndSet(false)) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Wait (bounded) until every started job has been seen to end. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (!openJobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  /** Begin an operation on the calling thread: a fresh id and job group. */
  def begin(kind: String): Long = {
    val op = nextOp.incrementAndGet()
    spark.sparkContext.setJobGroup(s"op-$op", kind, interruptOnCancel = false)
    op
  }

  def end(): Unit = spark.sparkContext.clearJobGroup()

  def span[T](op: Long, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = now
      try body finally spans.add(Span(op, name, s, now))
    }

  /** Time the final action of an operation; records its Catalyst phases
    * from the frame's own tracker. */
  def action[T](op: Long, df: DataFrame)(body: => T): T =
    if (!on) body
    else {
      actionStart.put(op, now)
      try span(op, "spark.action")(body) finally phases(op, df.queryExecution)
    }

  /** Record the Catalyst phase intervals of `qe` as spans of `op`. */
  def phases(op: Long, qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      spans.add(Span(op, s"spark.plan.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }

  def markAction(op: Long): Unit = if (on) actionStart.put(op, now)

  def execOf(op: Long): Option[OpExec] = Option(execs.get(op))
}

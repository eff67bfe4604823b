package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same axis as the Spark listener timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed call into a public entry point of the program. */
final case class OpSpan(id: Long, kind: String, name: String, startMs: Double,
    endMs: Double, ok: Boolean) {
  def ms: Double = endMs - startMs
}

final case class JobRec(id: Int, startMs: Long, endMs: Long, callSite: String,
    stages: Seq[(Int, Long, Long, String)])

final case class SqlRec(startMs: Double, endMs: Double,
    phases: Map[String, (Long, Long)], exchanges: Int)

/** Per-trigger progress of a streaming query. */
final case class Trigger(queryId: String, batchId: Long, startMs: Long,
    durations: Map[String, Long], inputRows: Long,
    state: Seq[org.apache.spark.sql.streaming.StateOperatorProgress]) {
  def ms: Long = durations.getOrElse("triggerExecution", 0L)
}

/** Listener that keeps only the per-trigger durations. It is attached in
  * every mode, because the streaming workloads read their end-to-end trigger
  * times from it.
  */
final class TriggerClock extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    triggers.add(TriggerClock.of(e.progress))
  def snapshot: Seq[Trigger] = triggers.asScala.toSeq
}

object TriggerClock {
  def of(p: StreamingQueryProgress): Trigger = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    Trigger(p.id.toString, p.batchId, start, d, p.numInputRows,
      p.stateOperators.toSeq)
  }
}

/** Layer recorder for the traced run: a SparkListener (jobs, stages, tasks),
  * a QueryExecutionListener (planning phases, exchanges) and a
  * StreamingQueryListener (trigger phases, state store). Everything is kept
  * in memory and summarised after the timed window. Trigger progress is
  * taken from the SparkListener's `onOtherEvent`, which sees the streaming
  * queries of every session (a StreamingQueryListener sees only its own).
  */
final class Recorder(spark: SparkSession) {
  private val opSeq = new AtomicLong(0L)
  val ops = new ConcurrentLinkedQueue[OpSpan]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val sql = new ConcurrentLinkedQueue[SqlRec]()
  val triggers = new TriggerClock

  val tasks = new AtomicLong(0L)
  val taskMs = new AtomicLong(0L)
  val gcMs = new AtomicLong(0L)
  val shuffleWrite = new AtomicLong(0L)
  val shuffleRead = new AtomicLong(0L)
  val spill = new AtomicLong(0L)
  val resultBytes = new AtomicLong(0L)

  private val open =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
  private val stageTimes =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site =
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      open.put(e.jobId, (e.time, site, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val o = open.remove(e.jobId)
      if (o != null) {
        val st = o._3.flatMap { id =>
          Option(stageTimes.remove(id)).map(t => (id, t._1, t._2, t._3))
        }
        jobs.add(JobRec(e.jobId, o._1, e.time, o._2, st))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      for (s <- si.submissionTime; c <- si.completionTime)
        stageTimes.put(si.stageId, (s, c, si.name))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => triggers.triggers.add(TriggerClock.of(p.progress))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        resultBytes.addAndGet(m.resultSize)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = Clock.nowMs
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> (p.startTimeMs, p.endTimeMs)
      }
      sql.add(SqlRec(end - durationNs / 1e6, end, phases,
        Recorder.exchanges(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val attached = new AtomicReference[Boolean](false)

  def attach(): Unit = if (!attached.getAndSet(true)) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** `settleMs`: listener events drain asynchronously; a short settle
    * beats reaching into the private listener bus.
    */
  def detach(settleMs: Long = 400): Unit = if (attached.getAndSet(false)) {
    Thread.sleep(settleMs)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Time one call; every listener event inside it belongs to this op. */
  def op[A](kind: String, name: String)(body: => A): A = {
    val id = opSeq.incrementAndGet()
    val t0 = Clock.nowMs
    var ok = false
    try { val r = body; ok = true; r }
    finally ops.add(OpSpan(id, kind, name, t0, Clock.nowMs, ok))
  }

  def opList: Seq[OpSpan] = ops.asScala.toSeq.sortBy(_.startMs)
  def jobList: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.startMs)

  /** Jobs that start inside an op span (ops never overlap: one caller). */
  def jobsOf(op: OpSpan): Seq[JobRec] =
    jobList.filter(j => j.startMs >= op.startMs - 1 && j.startMs <= op.endMs + 1)

  /** Part of the op covered by the union of its jobs, in ms. */
  def jobCoveredMs(op: OpSpan): Double =
    Recorder.unionMs(jobsOf(op).map(j => (j.startMs.toDouble, j.endMs.toDouble)),
      op.startMs, op.endMs)

  /** Write every span as one JSON line: ops, their jobs and stages, SQL
    * phases and trigger phases. All spans of one op share its id.
    */
  def writeSpans(path: String): Unit = {
    val ts = triggers.snapshot
    val sq = sql.asScala.toSeq
    val lines = ArrayBuffer[String]()
    def line(op: Long, kind: String, name: String, s: Double, e: Double): Unit =
      lines += s"""{"op":$op,"kind":"$kind","name":${Json.str(name)},"start_ms":$s,"end_ms":$e}"""
    opList.foreach { o =>
      line(o.id, "op", s"${o.kind}:${o.name}${if (o.ok) "" else " (failed)"}", o.startMs, o.endMs)
      jobsOf(o).foreach { j =>
        line(o.id, "job", s"${j.id} ${j.callSite}", j.startMs, j.endMs)
        j.stages.foreach { case (sid, s, e, n) => line(o.id, "stage", s"$sid $n", s, e) }
      }
      sq.filter(r => r.startMs >= o.startMs && r.startMs <= o.endMs).foreach { r =>
        r.phases.foreach { case (p, (s, e)) => line(o.id, "sql", p, s, e) }
      }
      ts.filter(t => t.startMs >= o.startMs - 1 && t.startMs <= o.endMs).foreach { t =>
        var at = t.startMs.toDouble
        Seq("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit",
          "commitOffsets").foreach { p =>
          t.durations.get(p).foreach { d =>
            line(o.id, "trigger", s"${t.batchId} $p", at, at + d); at += d
          }
        }
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Recorder {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    c.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Shuffle exchanges in the final physical plan, AQE stages included. */
  def exchanges(p: SparkPlan): Int = {
    val here = p match {
      case _: ShuffleExchangeLike => 1
      case _ => 0
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    here + kids.map(exchanges).sum
  }
}

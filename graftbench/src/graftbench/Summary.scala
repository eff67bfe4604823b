package graftbench

import scala.collection.mutable

/** Layer metrics every workload derives the same way from a [[Recorder]]:
  * engine counters, planner phases and streaming trigger phases. Counts,
  * times and bytes are per `unit` (one fit, one fitStream, one trigger or
  * one query); medians are over the traced window.
  */
object Summary {
  def common(rec: Recorder, units: Double, m: mutable.Map[String, Double]): Unit = {
    val ops = rec.opList
    val opMs = ops.map(_.ms).sum
    val u = math.max(units, 1.0)
    val jobs = ops.flatMap(o => rec.jobsOf(o).map(o -> _))
    m("spark.jobs") = jobs.size / u
    m("spark.stages") = jobs.map(_._2.stages.size).sum / u
    m("spark.tasks") = rec.tasks.get / u
    m("spark.task_ms") = rec.taskMs.get / u
    m("spark.gc_ms") = rec.gcMs.get / u
    m("spark.shuffle_write_bytes") = rec.shuffleWrite.get / u
    m("spark.shuffle_read_bytes") = rec.shuffleRead.get / u
    m("spark.spill_bytes") = rec.spill.get / u
    m("spark.result_bytes") = rec.resultBytes.get / u
    m("spark.parallel_fraction") = if (opMs > 0) rec.taskMs.get / opMs else 0.0
    val covered = ops.map(rec.jobCoveredMs).sum
    val driverSelf = opMs - covered
    m("spark.driver_self_ms") = driverSelf / u
    // op = driver self + its jobs; job = job self + its stages. With no
    // concurrent jobs or stages the self-times add back up to the op spans
    // (100 %); concurrency shows as more than 100 %.
    val childSelf = jobs.map { case (o, j) =>
      val js = math.max(j.startMs.toDouble, o.startMs)
      val je = math.min(j.endMs.toDouble, o.endMs)
      val stages = j.stages.map { case (_, s, e, _) =>
        math.max(0.0, math.min(e.toDouble, je) - math.max(s.toDouble, js))
      }
      val stageUnion = Recorder.unionMs(
        j.stages.map { case (_, s, e, _) => (s.toDouble, e.toDouble) }, js, je)
      math.max(0.0, je - js - stageUnion) + stages.sum
    }.sum
    m("trace.accounted_pct") = if (opMs > 0) 100.0 * (driverSelf + childSelf) / opMs else 0.0

    def inOps(t: Double) = ops.exists(o => t >= o.startMs - 1 && t <= o.endMs + 1)
    val sq = rec.sql.toArray(Array.empty[SqlRec]).toSeq.filter(r => inOps(r.endMs))
    def phase(p: String) =
      sq.flatMap(_.phases.get(p)).map { case (s, e) => (e - s).toDouble }.sum / u
    m("sql.executions") = sq.size / u
    m("sql.analysis_ms") = phase("analysis")
    m("sql.optimization_ms") = phase("optimization")
    m("sql.planning_ms") = phase("planning")
    m("sql.exchanges") = sq.map(_.exchanges).sum / u

    val ts = rec.triggers.snapshot.filter(t => inOps(t.startMs.toDouble))
    if (ts.nonEmpty) {
      def med(p: String) = Stats.median(ts.map(_.durations.getOrElse(p, 0L).toDouble))
      m("stream.triggers") = ts.size / u
      m("stream.trigger_ms") = med("triggerExecution")
      m("stream.add_batch_ms") = med("addBatch")
      m("stream.wal_commit_ms") = med("walCommit")
      m("stream.commit_offsets_ms") = med("commitOffsets")
      m("stream.latest_offset_ms") = med("latestOffset")
      m("stream.query_planning_ms") = med("queryPlanning")
      val streamOps = ops.filter(o => ts.exists(t => t.startMs >= o.startMs - 1 && t.startMs <= o.endMs))
      m("stream.outside_trigger_ms") =
        math.max(0.0, streamOps.map(_.ms).sum - ts.map(_.ms.toDouble).sum) / ts.size
      m("stream.rows_per_trigger") = Stats.mean(ts.map(_.inputRows.toDouble))
      val st = ts.filter(_.state.nonEmpty)
      if (st.nonEmpty) {
        m("state.rows_total") = st.last.state.map(_.numRowsTotal).sum.toDouble
        m("state.rows_updated") = Stats.mean(st.map(_.state.map(_.numRowsUpdated).sum.toDouble))
        m("state.memory_bytes") = st.last.state.map(_.memoryUsedBytes).sum.toDouble
        m("state.commit_ms") = Stats.median(st.map(_.state.map(_.commitTimeMs).sum.toDouble))
        m("state.rocksdb_commit_ms") = Stats.median(st.map { t =>
          t.state.map { s =>
            import scala.jdk.CollectionConverters._
            s.customMetrics.asScala.collect {
              case (k, v) if k.startsWith("rocksdbCommit") => v.longValue
            }.sum
          }.sum.toDouble
        })
      }
    }
  }

  /** Median wall ms of `reps` calls, for the ml micro-timings. */
  def microMs(reps: Int)(body: => Unit): Double =
    Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })
}

package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

final case class Metric(name: String, value: Double, unit: String)

/** What one run reports: operation counts, correctness checks, end-to-end
  * metrics (the JSON keys of BENCHMARK.json), the named metrics they map
  * from, and the per-layer metrics of a traced run.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val checks = ArrayBuffer[(String, Boolean, String)]()
  val e2e = ArrayBuffer[Metric]()
  val named = ArrayBuffer[Metric]()
  val layers = ArrayBuffer[Metric]()
  val info = ArrayBuffer[(String, String)]()

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  def toJson(machine: String): String = {
    def ms(xs: Seq[Metric]) = xs.map { m =>
      s"""${Json.str(m.name)}:{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)}}"""
    }.mkString("{", ",", "}")
    val cs = checks.map { case (n, ok, d) =>
      s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}"""
    }.mkString("[", ",", "]")
    val inf = info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"checks":$cs,""" +
      s""""e2e":${ms(e2e.toSeq)},"named":${ms(named.toSeq)},""" +
      s""""layers":${ms(layers.toSeq)},"info":$inf,"machine":$machine}"""
  }
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, smoke: Boolean, work: String, data: String, cpus: Int,
    res: Result) {
  def nanosFrom(sec: Double): Long = System.nanoTime() + (sec * 1e9).toLong

  /** Used heap after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(50); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Finish the heap accounting; in a traced run also emit the layers. */
  def emitLayers(layers: Option[scala.collection.mutable.Map[String, Double]],
      heap0: Double, heap1: Double): Unit = {
    res.info += "retained_heap_delta_mb" -> f"${heap1 - heap0}%.1f"
    layers.foreach { m =>
      m("heap.retained_delta_mb") = heap1 - heap0
      Layers.emit(res, m)
    }
  }

  /** Median wall seconds of `reps` runs of `body`. */
  def medianSeconds(reps: Int)(body: Int => Unit): Double =
    Stats.median((0 until reps).map { i =>
      val t0 = System.nanoTime(); body(i); (System.nanoTime() - t0) / 1e9
    })
}

/** The set of per-layer metrics every traced run prints. Workloads fill in
  * the ones their path exercises; the rest read 0 (the layer is not on that
  * workload's path).
  */
object Layers {
  val names: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.result_bytes" -> "bytes",
    "spark.parallel_fraction" -> "ratio", "spark.driver_self_ms" -> "ms",
    "pipeline.fit_ms" -> "ms", "pipeline.scan_fill_ms" -> "ms",
    "pipeline.preprocess_ms" -> "ms", "pipeline.round_ms" -> "ms",
    "pipeline.evaluate_ms" -> "ms", "pipeline.evaluate_jobs" -> "count",
    "pipeline.scaling_eff" -> "ratio",
    "ml.models_shipped" -> "count", "ml.bytes_shipped" -> "bytes",
    "ml.blocks" -> "count", "ml.fit_ns_per_row" -> "ns", "ml.wire_ms" -> "ms",
    "ml.aggregate_ms" -> "ms",
    "stream.triggers" -> "count", "stream.trigger_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.latest_offset_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.outside_trigger_ms" -> "ms",
    "stream.rows_per_trigger" -> "rows",
    "state.rows_total" -> "rows", "state.rows_updated" -> "rows",
    "state.memory_bytes" -> "bytes", "state.commit_ms" -> "ms",
    "state.rocksdb_commit_ms" -> "ms",
    "serve.gen_late_ms" -> "ms", "serve.backlog_files_max" -> "files",
    "sql.executions" -> "count", "sql.analysis_ms" -> "ms",
    "sql.optimization_ms" -> "ms", "sql.planning_ms" -> "ms",
    "sql.exchanges" -> "count",
    "operators.relational_s" -> "s", "operators.asof_s" -> "s",
    "operators.dedup_s" -> "s", "operators.similarity_s" -> "s",
    "operators.text_s" -> "s", "operators.graph_s" -> "s",
    "operators.multimodal_s" -> "s", "operators.curation_s" -> "s",
    "operators.stream_s" -> "s", "operators.ml_s" -> "s",
    "ops.persist_left" -> "count",
    "heap.retained_delta_mb" -> "MB",
    "trace.overhead_pct" -> "%", "trace.accounted_pct" -> "%")

  /** Fill `res.layers` from `got`, in the fixed order, zero when absent. */
  def emit(res: Result, got: scala.collection.Map[String, Double]): Unit = {
    val unknown = got.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"unlisted layer metrics: ${unknown.mkString(",")}")
    names.foreach { case (n, u) => res.layers += Metric(n, got.getOrElse(n, 0.0), u) }
  }
}

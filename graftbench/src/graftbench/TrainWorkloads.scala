package graftbench

import scala.collection.mutable

import graft.ml.{Learners, ModelWire, OnlineLearner, ProtocolStats, Protocols}
import graft.pipeline.{FittedPipeline, PipelineSpec, Trainer}
import graft.streaming.StreamingTrainer
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Seeded synthetic labelled rows. Row `i` depends only on (seed, i), so the
  * same seed gives the same rows whatever the partitioning.
  */
object Rows {
  val schema: StructType = StructType(Seq(
    StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("target", DoubleType, nullable = false)))

  def rng(seed: Long, i: Long) =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)

  /** Hidden separating direction of the classification rows. */
  def direction(seed: Long, dim: Int): Array[Double] = {
    val r = rng(seed, -1L)
    val w = Array.fill(dim)(r.nextGaussian())
    val n = math.sqrt(w.map(x => x * x).sum)
    w.map(_ / n)
  }

  /** Share of classification labels flipped: the Bayes accuracy is 1 - this. */
  val LabelNoise = 0.01

  /** Nearly separable ±1 rows; feature j has its own scale and offset so the
    * StandardScaler has work to do.
    */
  def classified(seed: Long, i: Long, w: Array[Double]): (Array[Double], Double) = {
    val r = rng(seed, i)
    val z = Array.fill(w.length)(r.nextGaussian())
    var margin = 0.0; var j = 0
    while (j < z.length) { margin += w(j) * z(j); j += 1 }
    val y0 = if (margin >= 0) 1.0 else -1.0
    val y = if (r.nextDouble() < LabelNoise) -y0 else y0
    (Array.tabulate(z.length)(k => z(k) * (1 + k) + 10.0 * k), y)
  }

  /** Regression rows: target = sin of a hidden projection plus noise. */
  def regressed(seed: Long, i: Long, w: Array[Double]): (Array[Double], Double) = {
    val r = rng(seed, i)
    val x = Array.fill(w.length)(r.nextGaussian())
    var s = 0.0; var j = 0
    while (j < x.length) { s += w(j) * x(j); j += 1 }
    (x, math.sin(s) + 0.05 * r.nextGaussian())
  }

  /** Write rows [0, n) as `files` parquet files, one per slice. */
  def write(spark: SparkSession, dir: String, n: Long, files: Int,
      gen: Long => (Array[Double], Double)): Unit = {
    import spark.implicits._
    spark.range(0L, n, 1L, files).map(i => gen(i)).toDF("features", "target")
      .write.mode("overwrite").parquet(dir)
  }

  def read(spark: SparkSession, dir: String): RDD[(Array[Double], Double)] =
    spark.read.schema(schema).parquet(dir).rdd
      .map(r => (r.getSeq[Double](0).toArray, r.getDouble(1)))

  /** The ml layer's micro-timings at the workload's model size and W:
    * `OnlineLearner.fit` per row, `ModelWire.chunk`+`reassemble` of W
    * replicas, and the Synchronous `Protocol.aggregate` over them.
    */
  def mlMicro(learner: OnlineLearner, rows: Seq[(Array[Double], Double)], w: Int,
      maxMsgParams: Int, m: mutable.Map[String, Double]): Unit = {
    val dim = rows.head._1.length
    val model = learner.init(dim)
    rows.foreach { case (x, y) => learner.fit(model, x, y) } // JIT warm-up
    val fitMs = Summary.microMs(5) { rows.foreach { case (x, y) => learner.fit(model, x, y) } }
    m("ml.fit_ns_per_row") = fitMs * 1e6 / rows.size
    val replicas = (0 until w).map { k =>
      val r = learner.init(dim)
      rows.drop(k).grouped(w).map(_.head).foreach { case (x, y) => learner.fit(r, x, y) }
      r
    }
    m("ml.wire_ms") = Summary.microMs(15) {
      val blocks = replicas.zipWithIndex.flatMap { case (r, k) => ModelWire.chunk(r, maxMsgParams, k) }
      ModelWire.reassemble(blocks, (d, ps) => learner.init(d).loadWire(ps))
    }
    val sync = Protocols.create("Synchronous")
    m("ml.aggregate_ms") = Summary.microMs(15) {
      sync.aggregate(replicas, Some(model), learner, ProtocolStats())
    }
  }
}

/** `train_batch`: back-to-back `Trainer.fit` of PA + StandardScaler,
  * Synchronous, 5 rounds, over `cpus` parquet files of 200k 16-feature rows.
  */
object TrainBatch {
  val Dim = 16
  /** Accuracy floor of the held-out check: the rows are 1 % label noise
    * around a hyperplane, so any working fit scores well above it.
    */
  val ScoreFloor = 0.9
  val spec = PipelineSpec(1, "PA", Map("C" -> 0.01), Seq("StandardScaler"),
    "Synchronous", rounds = 5)

  private final case class Fit(sec: Double, f: Option[FittedPipeline])

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark; val res = ctx.res
    val n = if (ctx.smoke) 20000L else 200000L
    val dir = s"${ctx.work}/train_batch"
    val seed = ctx.seed
    val w = Rows.direction(seed, Dim)
    val setupS = ctx.medianSeconds(3) { _ =>
      Rows.write(spark, dir, n, ctx.cpus, i => Rows.classified(seed, i, w))
    }
    // JIT and codegen warm-up; a second fit still runs slower than later ones
    (0 until 2).foreach(_ => Trainer.fit(spark, spec, Rows.read(spark, dir)))
    val workers = Rows.read(spark, dir).getNumPartitions

    def fitOnce(rec: Option[Recorder], data: RDD[(Array[Double], Double)]): Fit = {
      val t0 = System.nanoTime()
      res.attempted += 1
      val f = try {
        Some(rec.fold(Trainer.fit(spark, spec, data))(
          _.op("fit", "Trainer.fit")(Trainer.fit(spark, spec, data))))
      } catch {
        case e: Exception =>
          res.failed += 1
          System.err.println(s"train_batch fit failed: $e"); None
      }
      Fit((System.nanoTime() - t0) / 1e9, f)
    }
    def loop(sec: Double, rec: Option[Recorder]): Seq[Fit] = {
      val until = ctx.nanosFrom(sec)
      val out = mutable.ArrayBuffer[Fit]()
      while (out.isEmpty || System.nanoTime() < until)
        out += fitOnce(rec, Rows.read(spark, dir))
      out.toSeq
    }
    def medianOk(fs: Seq[Fit]) = Stats.median(fs.filter(_.f.isDefined).map(_.sec))

    val heap0 = ctx.heapAfterGcMb()
    var layers: Option[mutable.Map[String, Double]] = None
    val fits: Seq[Fit] =
      if (!ctx.trace) loop(ctx.seconds, None)
      else {
        // untraced quarter, traced half, untraced quarter: the untraced
        // samples bracket the traced ones, so warm-up drift cancels
        val plainA = loop(ctx.seconds / 4, None)
        val rec = new Recorder(spark)
        rec.attach()
        val traced = loop(ctx.seconds / 2, Some(rec))
        rec.detach()
        val plain = plainA ++ loop(ctx.seconds / 4, None)
        val m = mutable.Map[String, Double]()
        pipelineLayers(rec, m)
        m("trace.overhead_pct") = 100.0 * (medianOk(traced) / medianOk(plain) - 1)
        traced.flatMap(_.f).lastOption.foreach { f =>
          m("ml.models_shipped") = f.stats.modelsShipped.toDouble
          m("ml.bytes_shipped") = f.stats.bytesShipped.toDouble
          m("ml.blocks") = f.stats.blocks.toDouble
        }
        // single-worker baseline for the scaling efficiency, outside the recorder
        val one = (0 until 2).map(_ => fitOnce(None, Rows.read(spark, dir).coalesce(1)))
        m("pipeline.scaling_eff") =
          (n / medianOk(traced)) / (workers * (n / medianOk(one)))
        val sample = (0L until 20000L).map(i => Rows.classified(seed, i, w))
        Rows.mlMicro(Learners.create(spec.learner, spec.learnerHp), sample, workers,
          spec.maxMsgParams, m)
        rec.writeSpans(s"${ctx.work}/spans.jsonl")
        layers = Some(m)
        plain ++ traced
      }
    val heap1 = ctx.heapAfterGcMb()

    val good = fits.filter(_.f.isDefined)
    val secs = good.map(_.sec)
    val fitted = good.map(_.f.get)
    res.check("train_batch: at least one fit succeeded", good.nonEmpty)
    val scores = fitted.map(_.score)
    res.check(s"train_batch: held-out accuracy >= $ScoreFloor on every fit",
      scores.nonEmpty && scores.forall(_ >= ScoreFloor), s"scores ${scores.mkString(",")}")
    val ns = fitted.map(_.model.n).distinct
    res.check("train_batch: every fit yields the same model.n", ns.size == 1,
      s"model.n values ${ns.mkString(",")}")
    res.info += "workers" -> workers.toString
    res.info += "rows" -> n.toString
    res.info += "fits" -> fits.size.toString

    val medSec = Stats.median(secs)
    res.named += Metric("train_rows_per_s", n / medSec, "rows/s")
    res.named += Metric("train_score", Stats.median(scores), "accuracy")
    res.e2e += Metric("setup_s", setupS, "s")
    res.e2e += Metric("throughput_per_s", n / medSec, "1/s")
    res.e2e += Metric("latency_p50_ms", medSec * 1e3, "ms")
    res.e2e += Metric("latency_tail_ms", Stats.quantile(secs, 0.9) * 1e3, "ms")
    res.e2e += Metric("retained_heap_mb", heap1, "MB")
    ctx.emitLayers(layers, heap0, heap1)
  }

  /** pipeline.* from job call sites: the file and action that submitted
    * each job name the training phase it belongs to.
    */
  private def pipelineLayers(rec: Recorder, m: mutable.Map[String, Double]): Unit = {
    val ops = rec.opList
    val fits = ops.size.toDouble
    Summary.common(rec, fits, m)
    m("pipeline.fit_ms") = Stats.median(ops.map(_.ms))
    val jobs = ops.flatMap(rec.jobsOf)
    def in(file: String)(j: JobRec) = j.callSite.contains(s" at $file:")
    def action(a: String)(j: JobRec) = j.callSite.startsWith(s"$a at ")
    def ms(p: JobRec => Boolean) =
      jobs.filter(p).map(j => (j.endMs - j.startMs).toDouble).sum / fits
    val pipe = in("Pipeline.scala") _
    val fill = (j: JobRec) => pipe(j) && action("first")(j)
    val eval = (j: JobRec) => pipe(j) && action("reduce")(j)
    m("pipeline.scan_fill_ms") = ms(fill)
    m("pipeline.preprocess_ms") = ms(in("Preprocess.scala"))
    m("pipeline.evaluate_ms") = ms(eval)
    m("pipeline.evaluate_jobs") = jobs.count(eval) / fits
    m("pipeline.round_ms") = ms(j => pipe(j) && !fill(j) && !eval(j))
  }
}

/** `train_stream`: replay of a staged backlog through
  * `StreamingTrainer.fitStream`, one small parquet file per micro-batch,
  * `cpus` replicas of a ~10^5-parameter NN, Synchronous.
  */
object TrainStream {
  val Dim = 64
  val Hidden = 1536
  val spec = PipelineSpec(2, "NN",
    Map("hidden" -> Hidden.toDouble, "classes" -> 1.0, "lr" -> 0.01), Nil, "Synchronous")
  /** Parameter count of the NN: hidden x (dim + 1) + 1 x (hidden + 1). */
  val params: Long = Hidden.toLong * (Dim + 1) + (Hidden + 1)

  private final case class Call(sec: Double, fit: Option[StreamingTrainer.StreamFit])

  def run(ctx: Ctx, clock: TriggerClock): Unit = {
    val spark = ctx.spark; val res = ctx.res
    val files = if (ctx.smoke) 3 else 8
    val rowsPerFile = if (ctx.smoke) 64 else 512
    val rows = files.toLong * rowsPerFile
    val workers = ctx.cpus
    val dir = s"${ctx.work}/train_stream"
    val seed = ctx.seed
    val w = Rows.direction(seed, Dim)
    val setupS = ctx.medianSeconds(3) { _ =>
      Rows.write(spark, dir, rows, files, i => Rows.regressed(seed, i, w))
    }
    def fitStream(from: String = dir) =
      StreamingTrainer.fitStream(spark, from, Rows.schema, spec, partitionsPerBatch = workers)
    // JIT and codegen warm-up on a two-file backlog of the same shape
    val warmDir = s"${ctx.work}/train_stream_warm"
    Rows.write(spark, warmDir, 2L * rowsPerFile, 2, i => Rows.regressed(seed, i, w))
    fitStream(warmDir)

    def callOnce(rec: Option[Recorder]): Call = {
      val t0 = System.nanoTime()
      res.attempted += 1
      val f = try Some(rec.fold(fitStream())(_.op("fitStream", "StreamingTrainer.fitStream")(fitStream())))
      catch {
        case e: Exception =>
          res.failed += 1
          System.err.println(s"train_stream fitStream failed: $e"); None
      }
      Call((System.nanoTime() - t0) / 1e9, f)
    }
    def loop(sec: Double, rec: Option[Recorder]): Seq[Call] = {
      val until = ctx.nanosFrom(sec)
      val out = mutable.ArrayBuffer[Call]()
      while (out.isEmpty || System.nanoTime() < until) out += callOnce(rec)
      out.toSeq
    }
    def triggers(since: Long): Seq[Trigger] = {
      Thread.sleep(300) // progress events drain asynchronously
      clock.snapshot.filter(t => t.startMs >= since && t.inputRows > 0)
    }

    val heap0 = ctx.heapAfterGcMb()
    var layers: Option[mutable.Map[String, Double]] = None
    val t0 = System.currentTimeMillis()
    val calls: Seq[Call] =
      if (!ctx.trace) loop(ctx.seconds, None)
      else {
        // untraced quarter, traced half, untraced quarter: the untraced
        // triggers bracket the traced ones, so warm-up drift cancels
        val plainA = loop(ctx.seconds / 4, None)
        val rec = new Recorder(spark)
        val t1 = System.currentTimeMillis()
        rec.attach()
        val traced = loop(ctx.seconds / 2, Some(rec))
        rec.detach()
        val t2 = System.currentTimeMillis()
        val plain = plainA ++ loop(ctx.seconds / 4, None)
        val m = mutable.Map[String, Double]()
        Summary.common(rec, rec.opList.size.toDouble, m)
        val (tracedMs, plainMs) = triggers(t0).partition(t => t.startMs >= t1 && t.startMs < t2)
        m("trace.overhead_pct") = 100.0 *
          (Stats.median(tracedMs.map(_.ms.toDouble)) / Stats.median(plainMs.map(_.ms.toDouble)) - 1)
        traced.flatMap(_.fit).lastOption.foreach { f =>
          m("ml.models_shipped") = f.stats.modelsShipped.toDouble
          m("ml.bytes_shipped") = f.stats.bytesShipped.toDouble
          m("ml.blocks") = f.stats.blocks.toDouble
        }
        val sample = (0L until 256L).map(i => Rows.regressed(seed, i, w))
        Rows.mlMicro(Learners.create(spec.learner, spec.learnerHp), sample, workers,
          spec.maxMsgParams, m)
        rec.writeSpans(s"${ctx.work}/spans.jsonl")
        layers = Some(m)
        plain ++ traced
      }
    val heap1 = ctx.heapAfterGcMb()
    val trig = triggers(t0).map(_.ms.toDouble)

    val good = calls.flatMap(c => c.fit.map(c.sec -> _))
    res.check("train_stream: at least one fitStream succeeded", good.nonEmpty)
    good.zipWithIndex.foreach { case ((_, f), k) =>
      res.check(s"train_stream[$k]: one curve point per staged file",
        f.curve.size == files, s"${f.curve.size} points for $files files")
      res.check(s"train_stream[$k]: fitted equals rows", f.model.n == rows,
        s"fitted ${f.model.n}, rows $rows")
      val want = files.toLong * workers * params * 8L
      res.check(s"train_stream[$k]: bytesShipped = triggers x W x params x 8",
        f.stats.bytesShipped == want, s"bytesShipped ${f.stats.bytesShipped}, expected $want")
    }
    res.check("train_stream: trigger times observed", trig.size >= files,
      s"${trig.size} triggers")
    res.info += "workers" -> workers.toString
    res.info += "params" -> params.toString
    res.info += "rows_per_call" -> rows.toString
    res.info += "calls" -> calls.size.toString

    val rps = Stats.median(good.map(g => rows / g._1))
    val p50 = Stats.median(trig)
    val p90 = Stats.quantile(trig, 0.9)
    res.named += Metric("stream_rows_per_s", rps, "rows/s")
    res.named += Metric("stream_trigger_p50_ms", p50, "ms")
    res.named += Metric("stream_trigger_p90_ms", p90, "ms")
    res.e2e += Metric("setup_s", setupS, "s")
    res.e2e += Metric("throughput_per_s", rps, "1/s")
    res.e2e += Metric("latency_p50_ms", p50, "ms")
    res.e2e += Metric("latency_tail_ms", p90, "ms")
    res.e2e += Metric("retained_heap_mb", heap1, "MB")
    ctx.emitLayers(layers, heap0, heap1)
  }
}

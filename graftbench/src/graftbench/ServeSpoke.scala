package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.Wire
import graft.streaming.{Envelope, Streaming, TwsSpoke}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** `serve_spoke`: an open-loop generator thread writes wire-format JSON
  * files on a fixed schedule; a streaming query parses them with
  * `Wire.parseInstances`/`parseRequests`, routes envelopes through
  * `TwsSpoke.run` (RocksDB state) and a foreachBatch sink stamps the emit
  * time of every prediction and Query response.
  */
object ServeSpoke {
  val Pipelines = 8
  val Dim = 16
  val TickMs = 100
  /** Fixed-rate phase, records per second: about half the highest rate the
    * fixed-rate phase kept up with on 4 cores when the benchmark was added,
    * frozen so that every later version sees the same offered load.
    */
  val FixedRate = 3900
  val FilesPerTrigger = 20
  /** Standing-backlog phase: files written at once, which the query works
    * through at [[FilesPerTrigger]] files per trigger (three triggers).
    */
  val BacklogFiles = 60
  val BacklogPerFile = 1600

  /** Pipeline p carries share(p) of the data: pipeline 0 half of it, the
    * other seven the rest in decreasing shares.
    */
  val share: IndexedSeq[Double] = {
    val tail = (1 until Pipelines).map(k => 1.0 / k)
    0.5 +: tail.map(_ / tail.sum * 0.5)
  }

  /** Pending forecast / Query: its creation time at the generator. */
  final case class Pending(createdNs: Long, phase: Int)

  /** Record generator. Ids are globally increasing, `id % 8` is the
    * pipeline, so the envelope `seq` is the id (requestId for requests).
    */
  final class Gen(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    private var next = 0L
    val created = Array.fill(Pipelines)(false)
    /** Training records since the last Create/Update. The spoke answers a
      * forecast only once the pipeline has a model, and the first records
      * of a 10-cycle may go to the held-out ring, so forecasts and Queries
      * wait for three.
      */
    val trained = Array.fill(Pipelines)(0)
    val forecasts = new ConcurrentHashMap[Long, Pending]()
    val queries = new ConcurrentHashMap[Long, Pending]()
    val records = new AtomicLong(0L)

    def createdOf(key: Long): Long =
      Option(forecasts.get(key)).orElse(Option(queries.get(key))).fold(0L)(_.createdNs)

    private def id(p: Int): Long = { next += 1; next * Pipelines + p }
    private def pick(): Int = {
      val u = r.nextDouble(); var acc = 0.0; var p = 0
      while (p < Pipelines - 1 && { acc += share(p); u >= acc }) p += 1
      p
    }
    private def feats(): (Array[Double], String) = {
      val x = Array.fill(Dim)(r.nextGaussian())
      (x, x.map(v => f"$v%.6f").mkString("[", ",", "]"))
    }

    def control(req: String, p: Int): String = {
      created(p) = true; trained(p) = 0
      s"""{"id":$p,"request":"$req","requestId":${id(p)},"learner":{"name":"PA","hyperParameters":{"C":0.01}},""" +
        s""""preProcessors":[],"trainingConfiguration":{"protocol":"Asynchronous"}}"""
    }

    /** One record, stamped with its creation time. */
    def record(phase: Int): String = {
      records.incrementAndGet()
      val p = pick()
      val u = r.nextDouble()
      val now = System.nanoTime()
      val ready = created(p) && trained(p) >= 3
      if (ready && u < 0.01) {
        val rid = id(p)
        queries.put(rid, Pending(now, phase))
        s"""{"id":$p,"request":"Query","requestId":$rid,"createdNs":$now}"""
      } else if (ready && u < 0.10) {
        val i = id(p)
        forecasts.put(i, Pending(now, phase))
        s"""{"id":$i,"operation":"forecasting","numericalFeatures":${feats()._2},"createdNs":$now}"""
      } else {
        if (created(p)) trained(p) += 1
        val (x, js) = feats()
        val y = if (x(0) + 0.5 * x(1) >= 0) 1.0 else -1.0
        s"""{"id":${id(p)},"operation":"training","numericalFeatures":$js,"target":$y,"createdNs":$now}"""
      }
    }
  }

  /** Write lines to a staging file, then move it into `dir` atomically. */
  final class Drop(dir: String, staging: String) {
    private val n = new AtomicLong(0L)
    Files.createDirectories(Paths.get(dir)); Files.createDirectories(Paths.get(staging))
    def write(lines: Seq[String]): Unit = {
      val name = f"part-${n.incrementAndGet()}%07d.json"
      val tmp = Paths.get(staging, name)
      Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Emitted outputs: key (forecast id or Query requestId) -> emit ns, count. */
  final class Sink {
    val predictions = new ConcurrentHashMap[Long, (Long, Int)]()
    val responses = new ConcurrentHashMap[Long, (Long, Int)]()
    val triggerOf = new ConcurrentHashMap[Long, Long]() // key -> batchId
    def add(b: DataFrame, batchId: Long): Unit = {
      val rows = b.filter(col("kind").isin("prediction", "response"))
        .select("kind", "requestId", "id").collect()
      val now = System.nanoTime()
      rows.foreach { r =>
        val key = if (r.getString(0) == "prediction") r.getLong(2) else r.getLong(1)
        val m = if (r.getString(0) == "prediction") predictions else responses
        m.merge(key, (now, 1), (a, b) => (a._1, a._2 + b._2))
        triggerOf.putIfAbsent(key, batchId)
      }
    }
  }

  /** Spoke session: transformWithState needs the RocksDB provider; a child
    * session keeps the conf off the shared one (the st31 pattern).
    */
  def session(spark: SparkSession): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2.conf.set("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    s2
  }

  def start(s2: SparkSession, in: String, ckpt: String, sink: Sink): StreamingQuery =
    Streaming.withStreamShuffle(s2) {
      val raw = s2.readStream.option("maxFilesPerTrigger", FilesPerTrigger.toString).text(in)
      val data = Wire.parseInstances(raw, "value").select(
        col("id").as("seq"), (col("id") % Pipelines).cast("int").as("pipelineId"),
        lit("data").as("kind"), lit("").as("reqType"), lit("").as("learner"),
        lit(-1L).as("requestId"), col("id"),
        coalesce(col("numericalFeatures"), array().cast(ArrayType(DoubleType))).as("features"),
        col("target"), coalesce(col("operation"), lit("training")).as("operation"))
      val control = Wire.parseRequests(raw, "value").select(
        col("requestId").as("seq"), col("id").as("pipelineId"),
        lit("control").as("kind"), col("request").as("reqType"),
        coalesce(col("learner.name"), lit("")).as("learner"),
        col("requestId"), lit(-1L).as("id"),
        array().cast(ArrayType(DoubleType)).as("features"),
        lit(null).cast(DoubleType).as("target"), lit("").as("operation"))
      val env = data.unionByName(control).as[Envelope](Encoders.product[Envelope])
      TwsSpoke.run(env).toDF().writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch((b: DataFrame, id: Long) => sink.add(b, id))
        .start()
    }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark; val res = ctx.res
    val s2 = session(spark)
    val scale = if (ctx.smoke) 0.25 else 1.0
    val perTick = math.max(1, (FixedRate * scale * TickMs / 1000).toInt)
    val backlogPerFile = math.max(1, (BacklogPerFile * scale).toInt)
    val backlogFiles = if (ctx.smoke) 8 else BacklogFiles

    // Set-up: start a spoke query on a fresh stream, create the pipelines,
    // train them a little, stop; 3 times.
    val setupS = ctx.medianSeconds(3) { k =>
      val base = s"${ctx.work}/serve_setup_$k"
      val g = new Gen(ctx.seed + 1000 + k)
      val drop = new Drop(s"$base/in", s"$base/staging")
      val sink = new Sink
      drop.write((0 until Pipelines).map(p => g.control("Create", p)) ++
        (0 until 20 * Pipelines).map(_ => g.record(0)))
      val q = start(s2, s"$base/in", s"$base/ckpt", sink)
      q.processAllAvailable(); q.stop()
    }

    val g = new Gen(ctx.seed)
    val drop = new Drop(s"${ctx.work}/serve/in", s"${ctx.work}/serve/staging")
    val sink = new Sink
    // Traced run: the recorder is attached for the middle half of the
    // fixed-rate phase; the quarters before and after give the untraced
    // latency to compare with.
    val rec = if (ctx.trace) Some(new Recorder(spark)) else None
    drop.write((0 until Pipelines).map(p => g.control("Create", p)))
    val q = start(s2, s"${ctx.work}/serve/in", s"${ctx.work}/serve/ckpt", sink)
    q.processAllAvailable()

    val heap0 = ctx.heapAfterGcMb()
    // Phase 1: fixed rate, open loop. The schedule is absolute, so a slow
    // tick does not lower the offered load.
    val phase1S = ctx.seconds * 0.7
    val lateMs = mutable.ArrayBuffer[Double]()
    var backlogMax = 0L
    val t0 = System.nanoTime()
    val ticks = (phase1S * 1000 / TickMs).toInt
    val clock = new TriggerClock
    s2.streams.addListener(clock)
    def triggers = clock.snapshot.filter(t => t.queryId == q.id.toString && t.inputRows > 0)
    // both parsers scan the source, so a trigger's input rows are 2 x its lines
    def consumedLines = triggers.map(_.inputRows).sum / 2
    val linesAtStart = Pipelines.toLong
    var tracedFrom = Long.MaxValue
    var tracedTo = Long.MaxValue
    var opStart = 0.0
    var opEnd = 0.0
    val gen = new Thread(() => {
      var k = 0
      while (k < ticks) {
        val due = t0 + k.toLong * TickMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateMs.synchronized { lateMs += (System.nanoTime() - due) / 1e6 }
        if (k == ticks / 4)
          rec.foreach { r => r.attach(); tracedFrom = System.nanoTime(); opStart = Clock.nowMs }
        if (k == ticks * 3 / 4)
          rec.foreach { r => r.detach(0); tracedTo = System.nanoTime(); opEnd = Clock.nowMs }
        if (k == ticks / 2) drop.write(Seq(g.control("Update", 3)))
        drop.write((0 until perTick).map(_ => g.record(1)))
        val written = g.records.get + linesAtStart
        backlogMax = math.max(backlogMax,
          ((written - consumedLines) / perTick.toDouble).ceil.toLong)
        k += 1
      }
    }, "graftbench-serve-generator")
    gen.start(); gen.join()

    // Catch up: every phase-1 forecast and Query answered (bounded wait).
    def answered(ph: Int): Boolean =
      g.forecasts.asScala.forall { case (i, p) => p.phase != ph || sink.predictions.containsKey(i) } &&
        g.queries.asScala.forall { case (i, p) => p.phase != ph || sink.responses.containsKey(i) }
    val catchUpUntil = System.nanoTime() + 20L * 1000000000L
    while (!answered(1) && System.nanoTime() < catchUpUntil) Thread.sleep(20)

    // Phase 2: standing backlog, written at once, drained at FilesPerTrigger
    // files per trigger. The drain rate counts trigger time only, so the
    // idle wait before the first backlog trigger does not enter it.
    val backlog = (0 until backlogFiles).map(_ => (0 until backlogPerFile).map(_ => g.record(2)))
    val tb = System.nanoTime()
    val tbMs = System.currentTimeMillis()
    backlog.foreach(drop.write)
    val backlogRecords = backlogFiles.toLong * backlogPerFile
    val drainUntil = System.nanoTime() + 60L * 1000000000L
    while (!answered(2) && System.nanoTime() < drainUntil) Thread.sleep(5)
    val lastEmit = (g.forecasts.asScala.toSeq.filter(_._2.phase == 2)
      .flatMap(f => Option(sink.predictions.get(f._1)).map(_._1)) ++
      g.queries.asScala.toSeq.filter(_._2.phase == 2)
        .flatMap(f => Option(sink.responses.get(f._1)).map(_._1))).maxOption.getOrElse(tb)
    Thread.sleep(300) // progress events drain asynchronously
    val drainTriggers = triggers.filter(_.startMs >= tbMs)
    val drainRps = backlogRecords / (drainTriggers.map(_.ms).sum / 1e3)
    q.processAllAvailable()
    q.stop()
    s2.streams.removeListener(clock)
    val heap1 = ctx.heapAfterGcMb()

    // Correctness: one response per forecast / Query id, none for unknown ids.
    val fIds = g.forecasts.keySet().asScala
    val qIds = g.queries.keySet().asScala
    val missingF = fIds.count(i => !sink.predictions.containsKey(i))
    val missingQ = qIds.count(i => !sink.responses.containsKey(i))
    val dupF = sink.predictions.asScala.count(_._2._2 != 1)
    val dupQ = sink.responses.asScala.count(_._2._2 != 1)
    val unknownF = sink.predictions.keySet().asScala.count(i => !fIds.contains(i))
    val unknownQ = sink.responses.keySet().asScala.count(i => !qIds.contains(i))
    res.attempted += fIds.size + qIds.size
    res.failed += missingF + missingQ
    res.check("serve_spoke: every forecast has a prediction", missingF == 0, s"$missingF missing")
    res.check("serve_spoke: every Query has a response", missingQ == 0, s"$missingQ missing")
    res.check("serve_spoke: exactly one output per id", dupF + dupQ == 0,
      s"$dupF predictions and $dupQ responses repeated")
    res.check("serve_spoke: no output for unknown ids", unknownF + unknownQ == 0,
      s"$unknownF predictions and $unknownQ responses for ids never sent")
    res.check("serve_spoke: backlog drained", lastEmit > tb && answered(2))

    // Latency of phase-1 records; an unanswered one counts as +infinity.
    def lat(pend: ConcurrentHashMap[Long, Pending], out: ConcurrentHashMap[Long, (Long, Int)]) =
      pend.asScala.toSeq.filter(_._2.phase == 1).map { case (i, p) =>
        Option(out.get(i)).fold(Double.PositiveInfinity)(o => (o._1 - p.createdNs) / 1e6) -> i
      }
    val lats = lat(g.forecasts, sink.predictions) ++ lat(g.queries, sink.responses)
    val ms = lats.map(_._1)
    val p50 = Stats.quantile(ms, 0.5)
    val p95 = Stats.quantile(ms, 0.95)
    val beyond = lats.filter(_._1 >= p95).flatMap(l => Option(sink.triggerOf.get(l._2))).distinct.size
    res.info += "phase1_records" -> lats.size.toString
    res.info += "p95_triggers_beyond" -> beyond.toString
    res.info += "records" -> g.records.get.toString
    res.info += "drain_triggers" -> drainTriggers.size.toString
    res.info += "trigger_ms" -> triggers.map(t => s"${t.ms}/${t.inputRows / 2}").mkString(" ")
    res.info += "fixed_rate_per_s" -> (perTick * 1000 / TickMs).toString

    val layers = rec.map { r =>
      val phase1Op = OpSpan(1, "serve", "fixed_rate", opStart, opEnd, ok = true)
      r.ops.add(phase1Op)
      val m = mutable.Map[String, Double]()
      val trig = r.triggers.snapshot.count(t => t.startMs >= phase1Op.startMs - 1 && t.startMs <= phase1Op.endMs)
      Summary.common(r, trig.toDouble, m)
      m("serve.gen_late_ms") = lateMs.max
      val (traced, plain) = lats.filter(_._1.isFinite).partition { l =>
        val c = g.createdOf(l._2); c >= tracedFrom && c < tracedTo
      }
      m("trace.overhead_pct") =
        100.0 * (Stats.median(traced.map(_._1)) / Stats.median(plain.map(_._1)) - 1)
      m("serve.backlog_files_max") = backlogMax.toDouble
      val sample = (0L until 20000L).map(i => Rows.classified(ctx.seed, i, Rows.direction(ctx.seed, Dim)))
      Rows.mlMicro(graft.ml.Learners.create("PA", Map("C" -> 0.01)), sample, Pipelines, 2000, m)
      r.writeSpans(s"${ctx.work}/spans.jsonl")
      m
    }

    res.named += Metric("serve_p50_ms", p50, "ms")
    res.named += Metric("serve_p95_ms", p95, "ms")
    res.named += Metric("serve_drain_rps", drainRps, "records/s")
    res.e2e += Metric("setup_s", setupS, "s")
    res.e2e += Metric("throughput_per_s", drainRps, "1/s")
    res.e2e += Metric("latency_p50_ms", p50, "ms")
    res.e2e += Metric("latency_tail_ms", p95, "ms")
    res.e2e += Metric("retained_heap_mb", heap1, "MB")
    ctx.emitLayers(layers, heap0, heap1)
  }
}

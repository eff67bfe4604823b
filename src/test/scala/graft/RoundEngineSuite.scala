package graft

import graft.ml._
import graft.pipeline.PipelineSpec
import graft.streaming.StreamingTrainer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The round engine as the streaming trainer sees it: a routed `fitStream`
  * against a driver-side replay of the same rounds, the tree-merge path,
  * and the per-fit checkpoint's lifecycle.
  */
class RoundEngineSuite extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private final case class Pt(pid: Long, seq: Long, x: Array[Double], y: Double)

  private val schema = StructType(Seq(
    StructField("pid", LongType), StructField("seq", LongType),
    StructField("features", ArrayType(DoubleType)),
    StructField("target", DoubleType)))

  /** Linearly separable points in batches of the given sizes; row `seq`
    * goes to worker `seq % workers`.
    */
  private def batches(sizes: Seq[Int], workers: Int, seed: Long): Seq[Seq[Pt]] = {
    var s = seed
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val wStar = Array.fill(4)(next() * 4)
    val starts = sizes.scanLeft(0L)(_ + _)
    sizes.zip(starts).map { case (n, from) =>
      (from until from + n).map { seq =>
        val x = Array.fill(4)(next() * 2)
        Pt(seq % workers, seq, x, if (La.dot(wStar, x) >= 0) 1.0 else -1.0)
      }
    }
  }

  /** One parquet file per batch, with ascending modification times, so
    * `maxFilesPerTrigger = 1` turns each into one micro-batch in order.
    */
  private def stage(bs: Seq[Seq[Pt]]): String = {
    val dir = Files.createTempDirectory("round_engine_").toString
    bs.zipWithIndex.foreach { case (b, i) =>
      val tmp = Files.createTempDirectory("round_engine_part_").toString + "/out"
      val rows = b.map(p => Row(p.pid, p.seq, p.x.toSeq, p.y))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      val dst = Paths.get(dir, s"batch$i.parquet")
      Files.move(Paths.get(part), dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 600000L))
    }
    dir
  }

  /** Driver-side replay of a routed fitStream: each worker trains a PA chain
    * over its rows in seq order from the previous global, then the replicas
    * merge with `learner.merge`. `gate` is GM's drift threshold: replicas
    * within it stay home, and a partial ship also folds in the previous
    * global. Returns the final global, the expected statistics, and whether
    * some round shipped only part of its replicas.
    */
  private def replay(bs: Seq[Seq[Pt]], workers: Int, learner: OnlineLearner,
      gate: Option[Double]): (ModelState, ProtocolStats, Boolean) = {
    val stats = ProtocolStats()
    var global: Option[ModelState] = None
    var fitted = 0L
    var cumLoss = 0.0
    var partial = false
    for (b <- bs) {
      val replicas = (0 until workers).map { w =>
        val m = global.map(_.deepCopy).getOrElse(learner.init(4))
        m.n = 0L; m.cumLoss = 0.0
        b.filter(_.pid == w).sortBy(_.seq).foreach(p => learner.fit(m, p.x, p.y))
        learner.finish(m)
        m
      }
      val shipped = (gate, global) match {
        case (Some(t), Some(g)) =>
          replicas.filter(r => Protocols.driftNorm(r.params, g.params) > t)
        case _ => replicas
      }
      val merged =
        if (shipped.isEmpty) {
          val keep = global.get.deepCopy
          keep.n = 0L; keep.cumLoss = 0.0
          keep
        } else {
          stats.modelsShipped += shipped.length
          stats.bytesShipped += shipped.map(_.params.length.toLong * 8L).sum
          stats.blocks += shipped.length // 5-double payloads: one block each
          val base = if (shipped.length == replicas.length) Nil else global.toSeq
          learner.merge(base ++ shipped, global)
        }
      partial ||= shipped.nonEmpty && shipped.length < replicas.length
      fitted += merged.n; cumLoss += merged.cumLoss
      merged.n = fitted; merged.cumLoss = cumLoss
      global = Some(merged)
    }
    (global.get, stats, partial)
  }

  test("routed fitStream equals a driver-side replay of per-worker PA " +
    "chains, for Synchronous and for GM with some replicas gated") {
    val bs = batches(Seq(160, 80, 240), workers = 2, seed = 31L)
    val dir = stage(bs)
    for ((proto, gate) <- Seq("Synchronous" -> None, "GM" -> Some(0.8))) {
      val spec = PipelineSpec(71, "PA", Map("C" -> 1.0), Nil, proto,
        protocolHp = gate.map(t => Map("threshold" -> t)).getOrElse(Map.empty))
      val fit = StreamingTrainer.fitStream(spark, dir, schema, spec,
        partitionsPerBatch = 2, routed = true)
      val (want, wantStats, partial) =
        replay(bs, 2, Learners.create("PA", spec.learnerHp), gate)
      assert(fit.protocolName == proto)
      assert(fit.curve.size == 3, s"$proto: ${fit.curve.size} micro-batches")
      assert(java.util.Arrays.equals(fit.model.params, want.params),
        s"$proto: weights ${fit.model.params.mkString(",")} vs replay " +
          want.params.mkString(","))
      assert(fit.model.n == want.n, s"$proto: n ${fit.model.n} vs ${want.n}")
      assert(fit.model.cumLoss == want.cumLoss,
        s"$proto: cumLoss ${fit.model.cumLoss} vs ${want.cumLoss}")
      assert(fit.stats == wantStats, s"$proto: stats ${fit.stats} vs $wantStats")
      if (gate.isDefined)
        assert(partial, "the GM threshold gated no replica or every replica")
    }
  }

  test("fitStream merges through treeAggregate above treeMergeThreshold, " +
    "matching the collect path") {
    val dir = stage(batches(Seq(200, 200, 200), workers = 4, seed = 37L))
    val spec = PipelineSpec(72, "PA", Map("C" -> 0.05), Nil, "Synchronous")
    def fit(threshold: Int) = StreamingTrainer.fitStream(spark, dir, schema,
      spec.copy(treeMergeThreshold = threshold), partitionsPerBatch = 4, routed = true)
    val collectFit = fit(spec.treeMergeThreshold)
    val (treeFit, treeJobs) = treeAggregateJobs(fit(2))
    assert(treeJobs == 3, s"$treeJobs treeAggregate jobs for 3 micro-batches")
    val (a, b) = (collectFit.model.params, treeFit.model.params)
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y)),
        s"tree merge drifted: $x vs $y")
    }
    assert(treeFit.model.n == collectFit.model.n)
    assert(treeFit.stats.modelsShipped == collectFit.stats.modelsShipped)
    assert(treeFit.stats.bytesShipped == collectFit.stats.bytesShipped)
    assert(treeFit.stats.blocks == collectFit.stats.blocks)
  }

  test("fitStream removes its checkpoint and stops its query, also when " +
    "the fit throws") {
    val dir = stage(batches(Seq(60, 60), workers = 2, seed = 41L))
    def leftovers = new java.io.File(dir).list().filter(_.startsWith("_ckpt_train_")).toSeq
    val spec = PipelineSpec(73, "PA", Map("C" -> 0.05), Nil, "Synchronous")
    for (_ <- 1 to 2)
      StreamingTrainer.fitStream(spark, dir, schema, spec, partitionsPerBatch = 2,
        routed = true)
    assert(leftovers.isEmpty, s"checkpoints left after two fits: $leftovers")
    assert(spark.streams.active.isEmpty)
    // MiniBatchKMeans with no shared seed fails inside the first micro-batch
    intercept[Exception] {
      StreamingTrainer.fitStream(spark, dir, schema,
        PipelineSpec(74, "MiniBatchKMeans", Map("k" -> 2.0), Nil, "Synchronous"),
        partitionsPerBatch = 2, routed = true)
    }
    assert(leftovers.isEmpty, s"checkpoint left after a failed fit: $leftovers")
    assert(spark.streams.active.isEmpty)
  }

  /** Runs `body` and counts the `treeAggregate` jobs submitted while it ran,
    * from any thread (foreachBatch runs on the query's thread). Every job a
    * streaming query runs carries the query's `start` call site, so the
    * action is read from the job's RDD operation scope instead.
    */
  private def treeAggregateJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == sentinel))
          drained.countDown()
        else if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.rdd.scope")))
            .exists(_.contains("\"name\":\"treeAggregate\"")))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      // the listener bus delivers events in order: once the sentinel job's
      // start arrives, every job `body` submitted has been counted
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

package graft.pipeline

import graft.core._
import graft.ml._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Pipeline definition (the reference's Create-request payload). */
case class PipelineSpec(
    id: Int,
    learner: String,
    learnerHp: Map[String, Double] = Map.empty,
    preprocessors: Seq[String] = Nil,
    protocol: String = "Asynchronous",
    protocolHp: Map[String, Double] = Map.empty,
    rounds: Int = 3,
    testCap: Int = 256,
    /** Replica-merge strategy switchover: above this many training
      * partitions, plain-averaging protocols merge replicas with a log-depth
      * `treeReduce` instead of a driver `collect` (SCALE.md — at 1000
      * executors the driver would otherwise hold W models at once). Local
      * gate runs stay below it, so both paths are equivalence-tested
      * explicitly in PipelineSparkSuite. */
    treeMergeThreshold: Int = 64,
    /** Message cap on shipped model payloads, in doubles (reference
      * `maxMsgParams`, DefaultJobParameters.scala:6): every shipped replica
      * is split into <=maxMsgParams-double [[graft.ml.ParamBlock]]s and
      * reassembled before the merge — see [[graft.ml.ModelWire]]. */
    maxMsgParams: Int = 2000)

final class FittedPipeline(
    val spec: PipelineSpec,
    val chain: Seq[FittedPreprocessor],
    val model: ModelState,
    val learner: OnlineLearner,
    val protocolName: String,
    val stats: ProtocolStats,
    val curve: Seq[Double],
    val testLoss: Double,
    val score: Double) extends Serializable {

  /** Chunked query responses (<=10k params per bucket,
    * FlinkNetwork.scala:48-149).
    */
  def responses(requestId: Long): Seq[QueryResponse] = {
    val ps = model.params
    val buckets = ps.grouped(10000).toSeq match {
      case Seq() => Seq(Array.empty[Double])
      case bs => bs
    }
    buckets.zipWithIndex.map { case (chunk, i) =>
      QueryResponse(requestId, i, spec.id, spec.learner, spec.preprocessors,
        protocolName, model.n, testLoss, model.cumLoss, score,
        chunk.length, chunk.toSeq)
    }
  }

  def statistics: PipelineStatistics =
    PipelineStatistics(spec.id, protocolName, stats.modelsShipped,
      stats.bytesShipped, stats.blocks, model.n, curve, score)

  /** Distributed prediction over (id, features) rows. */
  def predict(spark: SparkSession, df: DataFrame): DataFrame = {
    val bcChain = spark.sparkContext.broadcast(chain)
    val bcModel = spark.sparkContext.broadcast(model)
    val l = learner
    val predictUdf = udf { (features: Seq[Double]) =>
      val x = Preprocess.applyChain(bcChain.value, features.toArray)
      l.predict(bcModel.value, x)
    }
    df.select(col("id"), predictUdf(col("features")).as("prediction"))
  }
}

/** Batch/micro-batch trainer: the Spark-native replacement for the
  * reference's hub-and-spoke parameter server (SURVEY §3.4(b)). Each round,
  * every partition trains a replica seeded from the broadcast global model;
  * the protocol folds replicas into the next global. The reference's
  * continuous Kafka feedback loop becomes the per-round broadcast.
  *
  * The ship/merge half of a round is [[Rounds]], the round engine shared
  * with [[graft.streaming.StreamingTrainer.fitStream]]. The Trainer owns the
  * replica pass: the split ring, the SSP/Asynchronous stale-read window and
  * its `seedRound` stamp, and the held-out scoring fused into that pass.
  *
  * Train/test split reproduces FlinkSpoke.scala:92-107: of every 10 points
  * 2 go to a <=`testCap`-slot ring buffer per partition; ring evictions are
  * fed back to training.
  *
  * Passes over the data: a fit with R rounds makes one statistics pass per
  * stats-based preprocessor ([[graft.ml.Preprocess.fitChain]], over the input
  * rows), R round passes and one final evaluation. The fitted chain is
  * applied once per row, in the `map` whose output is persisted; round 1
  * fills that persist. Like the reference's spokes, a round pass scores the
  * held-out ring it has just rebuilt against the freshest global, so round
  * r's pass yields the curve point of round r-1; only the final evaluation
  * reads the data just to score.
  */
object Trainer {

  /** Per-partition held-out sums: loss, score term (hits for classifiers,
    * squared error otherwise) and ring points scored.
    */
  private final case class Held(lossSum: Double, scoreSum: Double, k: Long) {
    def +(o: Held): Held = Held(lossSum + o.lossSum, scoreSum + o.scoreSum, k + o.k)
  }
  private val NoHeld = Held(0.0, 0.0, 0L)

  /** `init`: optional shared starting global model — round-1 replicas seed
    * from it instead of `learner.init`. Required for MiniBatchKMeans
    * (cluster-id alignment across replicas needs a common centroid seed);
    * None for every reference learner, whose zero-init is already shared.
    */
  def fit(spark: SparkSession, spec: PipelineSpec,
      data: RDD[(Array[Double], Double)],
      init: Option[ModelState] = None): FittedPipeline = {
    val sc = spark.sparkContext
    val learner = Learners.create(spec.learner, spec.learnerHp)
    val chain = Preprocess.fitChain(spec.preprocessors, data)
    val bcChain = sc.broadcast(chain)
    val protocol = Protocols.resolve(spec.protocol, spec.learner,
      data.getNumPartitions, spec.protocolHp)
    val tdata = Rounds.partitioned(
      data.map { case (x, y) => (Preprocess.applyChain(bcChain.value, x), y) },
      protocol, learner, seeded = init.isDefined)
    tdata.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val testCap = spec.testCap
      val stats = ProtocolStats()
      val rounds = new Rounds(learner, spec, stats)
      var global: Option[ModelState] = init
      var anyMerged = false
      var mergedLast = false // the previous round produced a new global
      val curve = mutable.ArrayBuffer[Double]()

      // SSP's bounded-stale reads: keep a window of recent globals,
      // recent(k) = global after round (r-1-k), newest first. Partition pid
      // reads lag pid mod (s+1) — deterministic worker-progress
      // heterogeneity inside the bound; s=0 degenerates to everyone
      // reading the freshest global (Synchronous). Window size is
      // min(s, W-1)+1 models of driver memory — the price of simulating
      // stale reads on a round engine; production s is small.
      val sspS: Option[Int] = protocol match {
        case SSP(s) => Some(s)
        // Asynchronous IS the unbounded-staleness limit of the same stale-
        // read machinery: worker pid computes on a global pid rounds behind
        // the frontier and every update merges regardless of staleness —
        // the reference's free-running interleave, expressed at round
        // granularity. (Previously a documented collapse onto Synchronous;
        // the AsyncEqualsUnboundedSSP suite gate pins the new semantics.)
        case Asynchronous => Some(Int.MaxValue)
        case _ => None
      }
      val numParts = tdata.getNumPartitions
      val histCap = sspS
        .map(s => math.min(s.toLong, (numParts - 1).toLong).toInt + 1)
        .getOrElse(1)
      val recent = mutable.ArrayDeque[Option[ModelState]](init)

      for (r <- 1 to spec.rounds) {
        val bcSeeds = sc.broadcast(recent.toIndexedSeq)
        val sBound = sspS.getOrElse(0)
        val freshRound = r - 1 // round of the freshest global in the window
        // the freshest global is the one round r-1 merged: score it on the
        // rings this pass rebuilds (never the replica being trained)
        val scorePrev = mergedLast
        val replRdd = tdata.mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val lag =
            if (sBound <= 0) 0
            else {
              // pid < numParts, so s >= numParts-1 (incl. MaxValue) means
              // the modulus never bites — skip it to dodge s+1 overflow
              val want = if (sBound >= numParts - 1) pid else pid % (sBound + 1)
              math.min(want, bcSeeds.value.length - 1)
            }
          var m: ModelState = null
          val ring = holdOut(it, testCap) { case (x, y) =>
            if (m == null) {
              m = bcSeeds.value(lag).map(_.deepCopy)
                .getOrElse(learner.init(x.length)) // dim from data
              m.seedRound = (freshRound - lag).toLong
              m.n = 0L; m.cumLoss = 0.0 // per-round counters; totals tracked outside
            }
            learner.fit(m, x, y)
          }
          if (m == null) Iterator.empty
          else {
            learner.finish(m)
            val held =
              if (scorePrev) scoreRing(learner, bcSeeds.value.head.get, ring)
              else NoHeld
            Iterator.single((m, held))
          }
        }
        // held-out sums of round r-1's global, summed in partition order
        val (mergedOpt, held) = rounds.merge(replRdd, bcSeeds, protocol, NoHeld)(_ + _)
        if (scorePrev) curve += summarize(learner, held)._1
        mergedOpt.foreach(m => global = Some(m))
        mergedLast = mergedOpt.isDefined
        anyMerged ||= mergedLast
        // advance the stale-read window even on a no-merge round, so
        // recent(k) stays aligned with "global after round r-k"
        recent.prepend(global)
        while (recent.length > histCap) recent.removeLast()
      }
      val model =
        if (anyMerged) global.get
        else {
          // no round merged (no rows, or no rounds): an empty input fails here
          val dim = tdata.first()._1.length
          global.getOrElse(learner.init(dim))
        }
      val (testLoss, score) = evaluate(sc, tdata, learner, model, testCap)
      if (mergedLast) curve += testLoss
      new FittedPipeline(spec, chain, model, learner, protocol.name, stats,
        curve.toSeq, testLoss, score)
    } finally tdata.unpersist(blocking = false)
  }

  /** One partition's pass through the deterministic split: of every 10
    * points the last 2 enter the held-out ring; the rest, and every point a
    * full ring evicts, go to `train` in arrival order. Returns the ring's
    * final contents in slot order — the same for every pass over the same
    * partition.
    */
  private def holdOut(it: Iterator[(Array[Double], Double)], testCap: Int)(
      train: ((Array[Double], Double)) => Unit): Array[(Array[Double], Double)] = {
    val ring = new Array[(Array[Double], Double)](testCap)
    var ringSize = 0; var ringPos = 0; var cnt = 0L
    it.foreach { p =>
      if (cnt % 10 >= 8) {
        if (ringSize < testCap) { ring(ringSize) = p; ringSize += 1 }
        else {
          val ev = ring(ringPos); ring(ringPos) = p
          ringPos = (ringPos + 1) % testCap
          train(ev)
        }
      } else train(p)
      cnt += 1
    }
    if (ringSize == testCap) ring else java.util.Arrays.copyOf(ring, ringSize)
  }

  /** Held-out sums of `m` over one ring, in slot order. */
  private def scoreRing(learner: OnlineLearner, m: ModelState,
      ring: Array[(Array[Double], Double)]): Held = {
    var ls = 0.0; var sc = 0.0
    var i = 0
    while (i < ring.length) {
      val (x, y) = ring(i)
      ls += learner.loss(m, x, y)
      if (learner.isClassifier) { if (learner.predict(m, x) == y) sc += 1.0 }
      else { val e = learner.predict(m, x) - y; sc += e * e }
      i += 1
    }
    Held(ls, sc, ring.length.toLong)
  }

  /** (avg test loss, score) from summed held-out sums. Score = accuracy for
    * classifiers, -RMSE for regressors, -mean distortion for clustering.
    */
  private def summarize(learner: OnlineLearner, h: Held): (Double, Double) =
    if (h.k == 0) (0.0, 0.0)
    else {
      val avgLoss = h.lossSum / h.k
      val score =
        if (learner.isClassifier) h.scoreSum / h.k
        else if (learner.isInstanceOf[OnlineKMeans]) -avgLoss
        else -math.sqrt(h.scoreSum / h.k)
      (avgLoss, score)
    }

  /** Replay the deterministic split and evaluate the model on the held-out
    * ring contents: (avg test loss, score).
    */
  private def evaluate(sc: org.apache.spark.SparkContext,
      tdata: RDD[(Array[Double], Double)], learner: OnlineLearner,
      model: ModelState, testCap: Int): (Double, Double) = {
    val bcModel = sc.broadcast(model)
    val total = tdata.mapPartitions { it =>
      Iterator.single(scoreRing(learner, bcModel.value, holdOut(it, testCap)(_ => ())))
    }.reduce(_ + _)
    summarize(learner, total)
  }
}

/** The round engine: the ship/merge half of one protocol round, shared by
  * [[Trainer.fit]] (per round) and
  * [[graft.streaming.StreamingTrainer.fitStream]] (per micro-batch) — the
  * reference's single parameter server (FlinkHub), which folds every
  * spoke's model the same way in both settings. Each trainer builds the
  * replica RDD `(model, h)`, where `h` is a per-partition side value with a
  * zero and a `+` (the Trainer's held-out sums; `Unit` for the stream), and
  * broadcasts its seed window, whose head is the current global. One
  * instance per fit keeps the running fitted-count/cumulative-loss totals
  * that every new global carries.
  *
  * The engine's Spark actions must stay in this file: graftbench attributes
  * the `train_batch` jobs to its `pipeline.*` layers by call-site file.
  */
private[graft] final class Rounds(learner: OnlineLearner, spec: PipelineSpec,
    stats: ProtocolStats) {
  private var totalFitted = 0L
  private var totalCumLoss = 0.0

  /** Ship and merge one round of replicas: (the new global, if the round
    * had any replica; the partitions' side values summed in partition
    * order from `zero`).
    */
  def merge[H](replicas: RDD[(ModelState, H)],
      seeds: Broadcast[IndexedSeq[Option[ModelState]]], protocol: Protocol,
      zero: H)(plus: (H, H) => H): (Option[ModelState], H) = {
    val global = seeds.value.head
    // the task closures below capture these locals, not the engine
    val maxP = spec.maxMsgParams
    val l = learner
    def reassemble(blocks: Seq[ParamBlock]): Seq[ModelState] = {
      stats.blocks += blocks.length
      ModelWire.reassemble(blocks, (bdim, ps) => l.init(bdim).loadWire(ps))
    }
    // Log-depth tree merge applies when the protocol is a plain weighted
    // average (Synchronous family), the learner's pairwise merge is
    // associative, and there are enough partitions that a driver collect
    // of W models would be the bottleneck (SCALE.md). SSP qualifies: its
    // merge is the same average, and in-fit no replica can exceed the
    // staleness bound (seeding clamps lag to s), so the admit-all tree
    // fold coincides with SSP.aggregate.
    val useTreeMerge =
      Set("Synchronous", "Asynchronous", "SSP").contains(protocol.name) &&
        learner.mergeIsAssociative &&
        replicas.getNumPartitions > spec.treeMergeThreshold
    val (mergedOpt, held) = protocol match {
      case fgm: FGM if global.isDefined =>
        // FGM two-level rounds (see Protocols.FGM): frozen rounds move
        // only one 8-byte scalar per worker off the executors; parameter
        // vectors travel ONLY on a confirmed global violation — and then
        // every replica ships (all-or-nothing, never GM's partial fold).
        // Round 1 (no global yet) bootstraps through the chunked path
        // below, where FGM.ships is always true.
        val repl = replicas.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // counter phase: one drift norm per worker, partition order
          val drifts = repl
            .map { case (m, h) => (Protocols.driftNorm(m.params,
              seeds.value.head.get.params), h) }
            .collect()
          val merged =
            if (drifts.isEmpty) None
            else if (!fgm.decide(drifts.map(_._1).toSeq, stats))
              Some(fgm.frozen(global.get))
            else {
              val blocks = repl.mapPartitions { it =>
                val pid = org.apache.spark.TaskContext.getPartitionId()
                it.flatMap { case (m, _) => ModelWire.chunk(m, maxP, pid).iterator }
              }.collect().toSeq
              Some(fgm.syncFold(reassemble(blocks), global, l, stats))
            }
          (merged, drifts.toSeq.map(_._2))
        } finally repl.unpersist(blocking = false)
      case _ if useTreeMerge =>
        // one action: an empty input folds to the None zero
        def mergeOpt(a: Option[ModelState], b: Option[ModelState]) =
          if (a.isDefined && b.isDefined) Some(l.merge(Seq(a.get, b.get)))
          else a.orElse(b)
        val (mOpt, k, bytes, h) = replicas.treeAggregate(
          (Option.empty[ModelState], 0L, 0L, zero))(
          { case ((ma, ka, ba, ha), (m, hm)) =>
            (mergeOpt(ma, Some(m)), ka + 1L, ba + m.params.length.toLong * 8L, plus(ha, hm))
          },
          { case ((ma, ka, ba, ha), (mb, kb, bb, hb)) =>
            (mergeOpt(ma, mb), ka + kb, ba + bb, plus(ha, hb))
          })
        val merged = mOpt.map { m =>
          stats.modelsShipped += k
          stats.bytesShipped += bytes
          // each replica enters the merge tree once, as
          // ceil(payload/maxMsgParams) transport blocks
          stats.blocks +=
            k * ((m.wireParams.length.toLong + maxP - 1) / maxP).max(1L)
          m
        }
        (merged, Seq(h))
      case _ =>
        // Chunked ship path: the map-side gate drops non-drifted
        // replicas on their executors (the driver receives a 1-row
        // marker instead of O(params) per skipped replica); shipped
        // replicas are split into <=maxMsgParams-double blocks so no
        // single collected record exceeds the message cap, then
        // reassembled before the protocol merge. Each partition's
        // side value travels as one record ahead of its blocks.
        val collected = replicas.mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          it.flatMap { case (m, h) =>
            val ship =
              if (protocol.ships(m, seeds.value.head))
                ModelWire.chunk(m, maxP, pid).iterator.map(Option(_))
              else Iterator.single(Option.empty[ParamBlock])
            Iterator.single[Either[H, Option[ParamBlock]]](Left(h)) ++
              ship.map(Right(_))
          }
        }.collect()
        val gated = collected.collect { case Right(b) => b }
        val blocks = gated.flatten.toSeq
        val shipped = reassemble(blocks)
        val totalReplicas =
          gated.count(_.isEmpty).toLong + blocks.count(_.idx == 0)
        val merged =
          if (collected.isEmpty) None
          else Some(protocol.aggregate(shipped, global, l, stats,
            totalReplicas = totalReplicas))
        (merged, collected.toSeq.collect { case Left(h) => h })
    }
    mergedOpt.foreach { merged =>
      totalFitted += merged.n
      totalCumLoss += merged.cumLoss
      merged.n = totalFitted
      merged.cumLoss = totalCumLoss
    }
    (mergedOpt, held.foldLeft(zero)(plus))
  }
}

private[graft] object Rounds {

  /** The replica input for one round under `protocol`: coalesced to the
    * protocol's `maxParallelism`. `seeded` says the round starts from a
    * global model. MiniBatchKMeans needs one under parallel training: with
    * none, round-1 replicas farthest-first-seed independently and the
    * count-weighted merge averages MISALIGNED cluster ids — silently wrong
    * centroids — so that case fails loudly instead.
    */
  def partitioned[T](data: RDD[T], protocol: Protocol, learner: OnlineLearner,
      seeded: Boolean): RDD[T] = {
    val out = protocol.maxParallelism match {
      case Some(p) if data.getNumPartitions > p => data.coalesce(p)
      case _ => data
    }
    require(!(learner.isInstanceOf[MiniBatchKMeans] &&
        out.getNumPartitions > 1 && !seeded),
      "MiniBatchKMeans under parallel training requires a shared seed model " +
        "(the init param of Trainer.fit or fitStream) — see " +
        "MiniBatchKMeans.sharedSeed")
    out
  }
}

/** The reference's PipelineMap (PipelineMap.scala:14-71): a validated
  * pipeline catalog driven by Create/Update/Query/Delete requests.
  */
final class PipelineCatalog {
  private val entries = mutable.LinkedHashMap[Int, PipelineSpec]()
  private val log = mutable.ArrayBuffer[(Int, String, String)]() // id, op, outcome

  def events: Seq[(Int, String, String)] = log.toSeq
  def specs: Seq[PipelineSpec] = entries.values.toSeq
  def get(id: Int): Option[PipelineSpec] = entries.get(id)

  private def validate(r: Request): Option[String] = {
    val ln = r.learner.map(_.name).getOrElse("")
    if (!Learners.names.contains(ln)) Some(s"invalid learner: $ln")
    else {
      val badPre = r.preProcessors.getOrElse(Nil).map(_.name)
        .filterNot(Preprocess.names.contains)
      if (badPre.nonEmpty) Some(s"invalid preprocessors: ${badPre.mkString(",")}")
      else if (!Protocols.names.contains(r.protocol)) Some(s"invalid protocol: ${r.protocol}")
      else None
    }
  }

  private def toSpec(r: Request): PipelineSpec =
    PipelineSpec(
      id = r.id,
      learner = r.learner.map(_.name).getOrElse(""),
      learnerHp = r.learner.map(_.hyperParameters).getOrElse(Map.empty),
      preprocessors = r.preProcessors.getOrElse(Nil).map(_.name),
      protocol = r.protocol)

  /** Apply one request; returns the outcome string recorded in the log. */
  def apply(r: Request): String = {
    val outcome = r.request match {
      case "Create" =>
        if (entries.contains(r.id)) "rejected: exists"
        else validate(r) match {
          case Some(err) => s"rejected: $err"
          case None => entries(r.id) = toSpec(r); "created"
        }
      case "Update" =>
        validate(r) match {
          case Some(err) => s"rejected: $err"
          case None => entries(r.id) = toSpec(r); "updated"
        }
      case "Delete" =>
        if (entries.remove(r.id).isDefined) "deleted" else "rejected: missing"
      case "Query" =>
        if (entries.contains(r.id)) "queried" else "rejected: missing"
      case other => s"rejected: unknown request $other"
    }
    log += ((r.id, r.request, outcome))
    outcome
  }
}

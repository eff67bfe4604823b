package graftbench

import scala.collection.mutable

import graft.{Op, SparkEntry}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `curate_mix`: a fixed list of 16 registered queries, one caller, order
  * shuffled by the seed, one untimed warm pass in set-up. Every query runs
  * as `SparkEntry.queries(name)(spark, dataDir).count()`, as graft.Bench
  * times it, and session caches are cleared after each query outside the
  * timer, as graft.Bench does.
  */
object CurateMix {
  val queries: Seq[String] = Seq(
    "q05_window_topk", "q17_asof_join", "d01_exact_dedup", "s01_topk_bruteforce",
    "t01_token_stats", "g08_copurchase_table", "mm10_shot_boundaries",
    "p04_data_card", "st17_poll_curve", "ml11_volume_train")

  /** Operator module of each query: the object that registers it. */
  val module: Map[String, String] = {
    def tag(ops: Seq[Op], m: String) = ops.map(_.name -> m)
    (tag(Relational.ops ++ Relational2.ops ++ Relational3.ops ++ Relational4.ops ++
      Relational5.ops, "relational") ++ tag(AsOf.ops, "asof") ++ tag(Dedup.ops, "dedup") ++
      tag(Similarity.ops, "similarity") ++ tag(TextAnalysis.ops, "text") ++
      tag(Graph.ops, "graph") ++ tag(Multimodal.ops, "multimodal") ++
      tag(Curation.ops, "curation") ++ tag(StreamOps.ops, "stream") ++
      tag(MLOps.ops, "ml")).toMap
  }

  /** Order-independent fingerprint: row count and the wrapping sum of a
    * hash of every row's text form.
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val rows = df.collect()
    (rows.length.toLong,
      rows.map(r => scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong).sum)
  }

  private final case class Sample(name: String, sec: Double, ok: Boolean, persistLeft: Int)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark; val res = ctx.res; val dir = ctx.data
    val missing = queries.filterNot(SparkEntry.queries.contains)
    res.check("curate_mix: every query is registered", missing.isEmpty,
      s"unregistered: ${missing.mkString(",")}")
    val fns = queries.filter(SparkEntry.queries.contains).map(n => n -> SparkEntry.queries(n))
    val keepViews = spark.catalog.listTables().collect().map(_.name).toSet
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && !keepViews.contains(t.name))
        .foreach(t => spark.catalog.dropTempView(t.name))
    }
    val rnd = new scala.util.Random(ctx.seed)

    // Set-up: two untimed warm passes; the first also fingerprints every
    // result. The queries are driver-bound, and the JIT is still improving
    // the driver's planning paths after one pass.
    val setupT0 = System.nanoTime()
    rnd.shuffle(fns).foreach { case (n, fn) =>
      val w0 = System.nanoTime()
      try {
        val (c, h) = fingerprint(fn(spark, dir))
        res.info += s"fp.$n" -> s"$c:$h"
      } catch {
        case e: Exception =>
          res.info += s"fp.$n" -> "failed"
          System.err.println(s"curate_mix warm $n failed: $e")
      }
      res.info += s"warm.$n" -> f"${(System.nanoTime() - w0) / 1e9}%.4f"
      cleanup()
    }
    rnd.shuffle(fns).foreach { case (n, fn) =>
      try fn(spark, dir).count()
      catch { case e: Exception => System.err.println(s"curate_mix warm $n failed: $e") }
      cleanup()
    }
    val setupS = (System.nanoTime() - setupT0) / 1e9

    def runQuery(n: String, fn: (SparkSession, String) => DataFrame,
        rec: Option[Recorder]): Sample = {
      res.attempted += 1
      val t0 = System.nanoTime()
      val ok = try {
        rec.fold(fn(spark, dir).count())(_.op("query", n)(fn(spark, dir).count())); true
      } catch {
        case e: Exception =>
          res.failed += 1
          System.err.println(s"curate_mix $n failed: $e"); false
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val left = spark.sparkContext.getPersistentRDDs.size
      cleanup()
      Sample(n, sec, ok, left)
    }
    def passes(sec: Double, rec: Option[Recorder]): Seq[Seq[Sample]] = {
      val until = ctx.nanosFrom(sec)
      val out = mutable.ArrayBuffer[Seq[Sample]]()
      while (out.isEmpty || System.nanoTime() < until)
        out += rnd.shuffle(fns).map { case (n, fn) => runQuery(n, fn, rec) }
      out.toSeq
    }
    /** A pass with a failed query has no wall time: a failure is never a fast sample. */
    def good(ps: Seq[Seq[Sample]]) = ps.filter(_.forall(_.ok))
    def passSec(p: Seq[Sample]) = p.map(_.sec).sum
    def geoMs(p: Seq[Sample]) = Stats.geomean(p.map(_.sec * 1e3))

    val heap0 = ctx.heapAfterGcMb()
    var layers: Option[mutable.Map[String, Double]] = None
    val all: Seq[Seq[Sample]] =
      if (!ctx.trace) passes(ctx.seconds, None)
      else {
        // untraced quarter, traced half, untraced quarter: the untraced
        // passes bracket the traced ones, so warm-up drift cancels
        val plainA = passes(ctx.seconds / 4, None)
        val rec = new Recorder(spark)
        rec.attach()
        val traced = passes(ctx.seconds / 2, Some(rec))
        rec.detach()
        val plain = plainA ++ passes(ctx.seconds / 4, None)
        val m = mutable.Map[String, Double]()
        Summary.common(rec, traced.map(_.size).sum.toDouble, m)
        m("trace.overhead_pct") =
          100.0 * (Stats.median(good(traced).map(geoMs)) / Stats.median(good(plain).map(geoMs)) - 1)
        Seq("relational", "asof", "dedup", "similarity", "text", "graph", "multimodal",
          "curation", "stream", "ml").foreach { mod =>
          m(s"operators.${mod}_s") = Stats.median(traced.map(p =>
            p.filter(s => module.get(s.name).contains(mod)).map(_.sec).sum))
        }
        m("ops.persist_left") = Stats.median(traced.map(_.map(_.persistLeft.toDouble).sum))
        rec.writeSpans(s"${ctx.work}/spans.jsonl")
        layers = Some(m)
        plain ++ traced
      }
    val heap1 = ctx.heapAfterGcMb()

    val ok = good(all)
    res.check("curate_mix: at least one pass with no failed query", ok.nonEmpty)
    res.info += "passes" -> all.size.toString
    res.info += "persist_left" -> Stats.median(all.map(_.map(_.persistLeft.toDouble).sum)).toString
    queries.foreach { n =>
      val xs = ok.flatMap(_.filter(_.name == n).map(_.sec))
      res.info += s"q.$n" -> f"${Stats.median(xs)}%.4f"
    }
    val mixS = Stats.median(ok.map(passSec))
    val geo = Stats.median(ok.map(geoMs))
    res.named += Metric("curate_mix_s", mixS, "s")
    res.named += Metric("curate_geomean_ms", geo, "ms")
    res.e2e += Metric("setup_s", setupS, "s")
    res.e2e += Metric("throughput_per_s", fns.size / mixS, "1/s")
    res.e2e += Metric("latency_p50_ms", geo, "ms")
    res.e2e += Metric("latency_tail_ms", mixS * 1e3, "ms")
    res.e2e += Metric("retained_heap_mb", heap1, "MB")
    ctx.emitLayers(layers, heap0, heap1)
  }
}

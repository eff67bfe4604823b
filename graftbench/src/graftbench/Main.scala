package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --out <result.json> [--data <dir>] [--smoke 1]
  *
  * Writes the result (checks, metrics, machine block) as one JSON object to
  * `--out`; `run.py` turns it into the printed report.
  */
object Main {
  val workloads = Seq("train_batch", "train_stream", "serve_spoke", "curate_mix")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val work = opt("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    // The session settings of graft.Bench; scratch space stays in `work`.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val clock = new TriggerClock
    spark.streams.addListener(clock)

    val seed = opt("seed").toLong
    val res = new Result
    val ctx = Ctx(spark, seed, opt("seconds").toDouble, opt("trace") == "1",
      opt.get("smoke").contains("1"), work, opt.getOrElse("data", ""), cpus, res)
    val status = try {
      workload match {
        case "train_batch" => TrainBatch.run(ctx)
        case "train_stream" => TrainStream.run(ctx, clock)
        case "serve_spoke" => ServeSpoke.run(ctx)
        case "curate_mix" => CurateMix.run(ctx)
      }
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.check(s"$workload: run completed", ok = false, e.toString)
        1
    }
    res.info += "jvm_session_s" -> f"$sessionS%.2f"
    res.info += "jvm_total_s" -> f"${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f"
    val rt = Runtime.getRuntime
    val machine =
      s"""{"nproc":$cpus,"heap_max_mb":${rt.maxMemory() / 1048576},""" +
        s""""jdk":${Json.str(System.getProperty("java.version"))},""" +
        s""""spark":${Json.str(spark.version)},""" +
        s""""scala":${Json.str(scala.util.Properties.versionNumberString)},""" +
        s""""workload":${Json.str(workload)},"seed":$seed,"trace":${ctx.trace}}"""
    Files.write(Paths.get(opt("out")), res.toJson(machine).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    sys.exit(status)
  }
}

package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark JVM entry point, started by perfbench/run.py:
  * `--workload W --seed N --seconds S --trace 0|1 --cpus C --work DIR
  * --out FILE --trace-file FILE`. Writes one result JSON to `--out`
  * (and, traced, the span file to `--trace-file`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")

    val spark = GraftSession.tuneLocal(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start to a usable session: the fixed part of every set-up
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = new Tracer
    if (trace) tracer.install(spark)
    // a comma-separated list runs each workload in turn (the class-data
    // training run at build time); the last one's result is written
    val out = workload.split(",").toSeq.map { w =>
      val ctx = new Ctx(spark, s"$work/$w", a("seed").toLong, a("seconds").toDouble, trace, tracer)
      w match {
        case "discovery" => Discovery.run(ctx)
        case "pipeline" => Pipeline.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
    }.last

    val setupS = sessionS + Stats.median(out.setupRepsS)
    val metrics: Map[String, Double] =
      if (trace) out.layers
      else Map(
        "setup_s" -> setupS,
        "op_mean_ms" -> Stats.mean(out.primaryMs),
        "throughput_per_s" -> out.throughputPerS,
        "peak_rss_mb" -> peakRssMb)
    val run = Map(
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "cpus" -> cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "session_s" -> sessionS,
      "setup_reps_s" -> out.setupRepsS,
      "primary_samples" -> out.primaryMs.size,
      "checks_run" -> out.checksRun,
      "error_rate" -> (out.failed.toDouble / math.max(1L, out.attempted)))
    val result = Map(
      "correct" -> (out.failed == 0 && out.checksRun > 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> metrics,
      "report" -> (out.report + ("run" -> run)))
    if (trace)
      Files.write(Paths.get(a("trace-file")), tracer.json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    Files.write(Paths.get(a("out")), Json(result).getBytes(StandardCharsets.UTF_8))
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** Listener-derived metrics of the Spark engine: jobs per search and per
  * commit (the kinds named by prefix), and, per traced op of the loop,
  * the driver gap and task totals.
  */
object SparkLayer {
  def metrics(ctx: Ctx, search: Option[String], commit: Option[String]): Map[String, Double] = {
    val ps = ctx.tracer.spans.toSeq
    def jobs(k: Option[String]) = k.map(p => Stats.mean(ctx.tracer.of(p).map(_.jobs.size.toDouble))).getOrElse(0.0)
    def perOp(f: StageSpan => Long) = Stats.mean(ps.map(_.stages.map(f).sum.toDouble))
    Map(
      "spark.jobs_per_search" -> jobs(search),
      "spark.jobs_per_commit" -> jobs(commit),
      "spark.driver_gap_s" -> Stats.median(ps.map(_.driverGapMs)) / 1e3,
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWriteBytes),
      "spark.spill_bytes" -> perOp(_.spillBytes),
      "spark.task_cpu_s" -> perOp(_.cpuNs) / 1e9,
      "spark.input_bytes" -> perOp(_.inputBytes))
  }
}

object Fs {
  def rm(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** Total bytes of the regular files under `path`. */
  def bytes(path: String): Long = files(path).map(Files.size(_)).sum

  def files(path: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return Nil
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    } finally s.close()
  }
}

package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What one run reports: the final JSON line plus a detail line. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, String] // name -> JSON value
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(name: String, value: Any): Unit = detail(name) = value match {
    case d: Double => Report.num(d)
    case f: Float => Report.num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s => "\"" + s.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  }
  def count(ops: Stats.Ops): Unit = { attempted += ops.attempted; failed += ops.failed }
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"perfbench: check failed: $what") }
  }
}

object Report {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

/**
 * Benchmark driver: `perfbench.Main --workload <name> --seed <n> --seconds
 * <s> --trace <0|1> --work <dir>`. Prints a `DETAIL {...}` line (host
 * shape, every workload-specific number) and, last, `RESULT {...}`.
 */
object Main {
  val Cores = 4
  val Streams = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val run = new Run(workload, seed, seconds, trace, work)
    val report = new Report
    workload match {
      case "build" => Workloads.build(run, report)
      case "query-hot" => Workloads.queryHot(run, report)
      case "query-selective" => Workloads.querySelective(run, report)
      case "update-mix" => Workloads.updateMix(run, report)
      case other => System.err.println(s"perfbench: unknown workload $other"); sys.exit(2)
    }
    run.stop()
    run.tracer.foreach { t =>
      val f = java.nio.file.Paths.get(work).resolveSibling("traces").resolve(s"$workload-seed$seed.spans.jsonl")
      t.write(f)
      report.note("spans_file", f.toString)
    }
    run.log("done")
    report.note("workload", workload)
    report.note("seed", seed)
    report.note("seconds", seconds)
    report.note("trace", trace)
    report.note("failed_ops_ratio", report.failed.toDouble / math.max(1L, report.attempted))
    report.note("nproc", Runtime.getRuntime.availableProcessors())
    report.note("jvm_max_heap_mb", Runtime.getRuntime.maxMemory() / (1 << 20))
    report.note("java", System.getProperty("java.version"))
    report.note("spark", org.apache.spark.SPARK_VERSION)
    // a traced run reports the layers; its end-to-end numbers go to the
    // detail line, beside the tracing overhead they are compared with
    val layers = Workloads.LayerMetrics.map(_._1).toSet
    val (shown, traced) = report.metrics.partition { case (k, _) => layers(k) == trace }
    traced.foreach { case (k, (v, _)) => if (trace) report.note(s"traced.$k", v) }
    println("DETAIL {" + report.detail.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}")
    val ms = shown.map { case (k, (v, u)) => s""""$k":{"value":${Report.num(v)},"unit":"$u"}""" }
    println(s"""RESULT {"correct":${report.failed == 0},"attempted":${report.attempted},""" +
      s""""failed":${report.failed},"metrics":{${ms.mkString(",")}}}""")
  }
}

/** One run's Spark session and scratch space. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val trace: Boolean, val work: String) {
  private val t0 = System.nanoTime()
  private var spark0: SparkSession = _
  var master = ""
  /** The run's tracer, once a traced phase has started. */
  var tracer: Option[Tracer] = None

  def newTracer(): Tracer = { val t = new Tracer(spark.sparkContext); tracer = Some(t); t }

  def spark: SparkSession = spark0

  /** (Re)start the session at `local[cores]`; returns its start time, s. */
  def start(cores: Int): Double = {
    stop()
    val t = System.nanoTime()
    master = s"local[$cores]"
    spark0 = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Workloads.BuildParts.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark0.sparkContext.setLogLevel("WARN")
    (System.nanoTime() - t) / 1e9
  }

  def stop(): Unit = if (spark0 != null) { spark0.stop(); spark0 = null }

  def path(name: String): String = s"$work/$name"

  def elapsedS: Double = (System.nanoTime() - t0) / 1e9

  def log(msg: String): Unit = System.err.println(f"perfbench: [$elapsedS%.1f s] $msg")
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `run.py` with the compiled classpath.
  *
  * {{{
  * Main run --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *          --data <corpus dir> --work <work dir> --golden <file> --sha <id>
  * Main golden --data <corpus dir> --work <work dir> --golden <file>
  * Main metrics
  * }}}
  *
  * `run` prints a header line and, last, the result line:
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{name:{"value":…,"unit":…}}}`
  * holding the end-to-end metrics, or with `--trace 1` the per-layer ones.
  */
object Main {
  final case class Metric(name: String, unit: String, better: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"), Metric("pass_s", "s", "lower"), Metric("op_gmean_ms", "ms", "lower"),
    Metric("heap_live_mb", "MB", "lower"))

  private val DriverPhases = Seq("construct", "analysis", "optimization", "planning", "exec")

  val PerLayer: Seq[Metric] =
    Seq(Metric("tables.open_ms", "ms", "lower"), Metric("tables.scan_ms", "ms", "lower"),
      Metric("tables.scan_bytes", "bytes", "lower")) ++
    ColdCuration.Families.map(f => Metric(s"staging.build_ms.$f", "ms", "lower")) ++
    Seq(Metric("staging.build_ms_total", "ms", "lower"), Metric("staging.rows_total", "rows", "lower"),
      Metric("staging.bytes_total", "bytes", "lower"), Metric("staging.builds", "count", "lower"),
      Metric("staging.requests", "count", "lower")) ++
    DriverPhases.flatMap(p => Seq(Metric(s"driver.${p}_ms.sum", "ms", "lower"), Metric(s"driver.${p}_ms.p50", "ms", "lower"))) ++
    Seq(Metric("shuffle.write_bytes", "bytes", "lower"), Metric("shuffle.read_bytes", "bytes", "lower"),
      Metric("broadcast.bytes", "bytes", "lower"), Metric("exec.tasks", "count", "lower"),
      Metric("exec.stages", "count", "lower"), Metric("exec.busy_ratio", "ratio", "higher")) ++
    Seq("bhj", "bnlj").map(p => Metric(s"plan.$p", "count", "lower")) ++
    Kernels.Names.map(k => Metric(s"kernel.$k.ns_per_row", "ns", "lower")) ++
    Seq(Metric("source.scan_ms", "ms", "lower"), Metric("source.lines", "lines", "higher"),
      Metric("source.partitions", "count", "higher"), Metric("etl.users_ms", "ms", "lower"),
      Metric("etl.rides_ms", "ms", "lower"), Metric("etl.upsert_ms", "ms", "lower"),
      Metric("etl.write_ms", "ms", "lower")) ++
    IngestServe.EndpointNames.flatMap(e => Seq(Metric(s"serve.$e.plan_ms", "ms", "lower"), Metric(s"serve.$e.exec_ms", "ms", "lower"))) ++
    Seq(Metric("jvm.gc_ms", "ms", "lower"), Metric("jvm.jit_ms", "ms", "lower"),
      Metric("trace.overhead_pct", "%", "lower"))

  private def flags(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.graft.stagingDir", work.resolve("staging").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The metric declarations, in the shape of `BENCHMARK.json`'s lists. */
  def metricsJson: String = {
    def list(ms: Seq[Metric]) = ms.map(m => Json.obj(Seq("name" -> Json.str(m.name), "unit" -> Json.str(m.unit),
      "better" -> Json.str(m.better)))).mkString("[", ",", "]")
    Json.obj(Seq("end_to_end" -> list(EndToEnd), "per_layer" -> list(PerLayer)))
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    if (mode == "metrics") { println(metricsJson); return }
    val f = flags(args.toSeq.drop(1))
    val work = Paths.get(f("work")).toAbsolutePath
    Files.createDirectories(work)
    val data = Paths.get(f("data")).toAbsolutePath
    val spark = session(work)
    val code =
      try mode match {
        case "golden" =>
          Golden.record(spark, data.toString, ColdCuration.Keys, Paths.get(f("golden")))
          0
        case "run" => run(spark, f, data, work)
        case other => System.err.println(s"unknown mode '$other'"); 2
      } finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, f: Map[String, String], data: Path, work: Path): Int = {
    val workload = Workload.named(f("workload"))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${f("workload")}"))
    val seed = f("seed").toLong
    val seconds = f("seconds").toInt
    val traced = f("trace") == "1"
    Harness.log("session up")
    DataGen.ensure(spark, data)
    val trace = new Trace(traced)
    val h = new Harness(spark, data.toString, work, seed, seconds, trace, Golden.load(Paths.get(f("golden"))))
    val header = Seq(
      "workload" -> Json.str(workload.name), "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (traced) "1" else "0"), "cpus" -> h.cpus.toString, "git_sha" -> Json.str(f.getOrElse("sha", "unknown")),
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString, "sf_dir" -> Json.str(data.toString),
      "corpus" -> Json.str(s"generator v${DataGen.Version} ${DataGen.Default}"),
      "spark" -> Json.str(spark.version))
    println(Json.obj(Seq("header" -> Json.obj(header))))
    Harness.log("workload start")
    workload.run(h)
    Harness.log("workload done")
    val metrics = if (traced) Report.perLayer(h) else Report.endToEnd(h)
    val result = Json.obj(Seq(
      "correct" -> (h.failures.isEmpty).toString, "attempted" -> h.attempted.toString,
      "failed" -> h.failures.size.toString,
      "metrics" -> Json.obj(metrics.map { case (m, v) =>
        m.name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(m.unit)))
      })))
    val stem = s"${workload.name}-seed$seed-trace${if (traced) 1 else 0}"
    val results = Files.createDirectories(work.resolve("results"))
    val ops = h.opLog.map { case (k, ms) => Json.obj(Seq("op" -> Json.str(k), "ms" -> Json.num(ms))) }
    Files.writeString(results.resolve(s"$stem.json"), Json.obj(Seq("header" -> Json.obj(header), "result" -> result,
      "pass_s" -> h.passS.map(Json.num).mkString("[", ",", "]"), "ops" -> ops.mkString("[", ",", "]"))) + "\n")
    if (traced) Files.writeString(results.resolve(s"$stem.trace.json"), trace.json)
    println(result)
    0
  }
}

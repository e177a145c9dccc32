package perfbench

import org.apache.spark.sql.SparkSession
import graft.BenchNoise

/** Runs one workload and prints one JSON line with its outcome.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <tables dir> --work <scratch dir> --out <results dir>
  *        Main --record-expected --data <tables dir> --work <scratch dir>
  */
object Main {

  val Workloads: Map[String, () => Workload] = Map(
    "serve_read" -> (() => new Serve(write = false)),
    "serve_write" -> (() => new Serve(write = true)),
    "cdc_stream" -> (() => new Cdc),
    "analytics" -> (() => new Analytics))

  private def session(workDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    if (argv.contains("--record-expected")) {
      recordExpected(arg("data"), arg("work"))
      return
    }
    val workload = Workloads.getOrElse(arg("workload"),
      sys.error(s"unknown workload ${arg("workload")}"))()
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val traced = arg("trace") == "1"
    val outDir = new java.io.File(arg("out"))
    outDir.mkdirs()

    val loadBefore = BenchNoise.loadPerCore()
    val cachedBefore = BenchNoise.cachedMb()
    val t0 = System.nanoTime()
    val spark = session(arg("work"))
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    Log(s"spark started; running ${workload.name}")
    val counters = new SparkCounters(spark.sparkContext)
    val tracer = new Tracer(traced)
    val out = new Outcome
    val ctx = Ctx(spark, arg("data"), arg("work"), seed, seconds, tracer,
      counters)
    try {
      val t1 = System.nanoTime()
      workload.run(ctx, out)
      val runNs = System.nanoTime() - t1
      if (traced) {
        out.layer("trace.overhead_pct") =
          (100.0 * tracer.overheadNs / runNs, "%")
        out.layer("trace.spans") = (tracer.all.size.toDouble, "count")
        tracer.write(new java.io.File(outDir, "spans.jsonl").toPath)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        out.check(false, s"workload aborted: $e")
        e.printStackTrace()
    }
    Log("workload done; host canary")
    val canary = BenchNoise.canarySec(spark)
    counters.close()
    spark.stop()

    def obj(m: Iterable[(String, (Double, String))]): String =
      m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
    val host = s"""{"nproc":${Runtime.getRuntime.availableProcessors()},""" +
      s""""load_per_core_before":${num(loadBefore)},""" +
      s""""load_per_core_after":${num(BenchNoise.loadPerCore())},""" +
      s""""cached_mb_before":$cachedBefore,""" +
      s""""cached_mb_after":${BenchNoise.cachedMb()},""" +
      s""""canary_s":${num(canary)},"spark_start_s":${num(sparkStartS)}}"""
    val failures = out.failures.map(f => "\"" + escape(f) + "\"")
      .mkString("[", ",", "]")
    val line = s"""{"workload":"${workload.name}","seed":$seed,""" +
      s""""trace":${if (traced) 1 else 0},"correct":${out.correct},""" +
      s""""attempted":${out.attempted},"failed":${out.failed},""" +
      s""""e2e":${obj(out.e2e)},"detail":${obj(out.detail)},""" +
      s""""layer":${obj(out.layer)},"host":$host,"failures":$failures}"""
    java.nio.file.Files.writeString(
      new java.io.File(outDir, "result.json").toPath, line + "\n")
    println(line)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }

  /** Print each analytics gate's row count and digest over `dataDir`, in
    * the format of `analytics-expected.tsv`. */
  private def recordExpected(dataDir: String, workDir: String): Unit = {
    val spark = session(workDir)
    try Analytics.Gates.foreach { g =>
      val (n, d) = Analytics.digest(graft.SparkEntry.queries(g)(spark, dataDir))
      println(s"$g\t$n\t$d")
      spark.catalog.clearCache()
    } finally spark.stop()
  }
}

package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** A measured value and its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload run reports. `e2e` holds the end-to-end metrics,
  * `layer` the per-layer ones (filled only when tracing), and `record`
  * the extra fields written to the run's record file, as rendered JSON.
  */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Seq[(String, Metric)], layer: Seq[(String, Metric)],
    record: Seq[(String, String)], notes: Seq[String])

/** One benchmark run's settings. `startMs` is when the JVM started. */
final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
    outDir: Path, dataDir: String, expected: Path, record: Boolean,
    sourceDigest: String, startMs: Long) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
  def work(name: String): Path = {
    val p = outDir.resolve("work").resolve(s"$tag-$name")
    CdcPipeline.rm(p)
    Files.createDirectories(p)
  }
  /** Seconds from JVM start to now. */
  def sinceStart: Double = (System.currentTimeMillis() - startMs) / 1e3

  private val marks = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
  /** Records that phase `name` ended now (seconds since JVM start). */
  def mark(name: String): Double = { val t = sinceStart; marks.add(name -> t); t }
  def phases: String = {
    import scala.jdk.CollectionConverters._
    Json.obj(marks.asScala.toSeq.map { case (k, v) => k -> Json.num(v) })
  }
}

/** Entry point: `graftbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --out <dir> --data <dir> --expected <file>`, or
  * `--gen-data <dir>` to write the analytics tables. The last stdout line
  * of a run is `RESULT <json>`.
  */
object Main {
  val Workloads = Seq("cdc", "analytics")

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("gen-data") match {
      case Some(dir) =>
        val spark = session(Runtime.getRuntime.availableProcessors())
        try TableGen.write(spark, dir) finally spark.stop()
        return
      case None =>
    }
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toInt,
      a.getOrElse("trace", "0") == "1", Paths.get(a("out")), a.getOrElse("data", ""),
      Paths.get(a.getOrElse("expected", "")), a.getOrElse("record", "0") == "1",
      a.getOrElse("source-digest", "unknown"), startMs)
    require(Workloads.contains(ctx.workload), s"unknown workload ${ctx.workload}")
    require(ctx.seconds > 0, "seconds must be positive")
    Files.createDirectories(ctx.outDir)
    val out = ctx.workload match {
      case "cdc"       => CdcWorkload.run(ctx)
      case "analytics" => Analytics.run(ctx)
    }
    report(ctx, out)
  }

  private def machine(ctx: Ctx): Seq[(String, String)] = Seq(
    "nproc" -> ctx.cores.toString,
    "heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
    "jdk" -> Json.str(s"${sys.props("java.vendor")} ${sys.props("java.runtime.version")}"),
    "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
    "source_digest" -> Json.str(ctx.sourceDigest),
    "git_sha" -> Json.str(sys.env.getOrElse("GRAFT_BENCH_GIT_SHA", "unknown")),
    "seed" -> ctx.seed.toString,
    "seconds" -> ctx.seconds.toString,
    "workload" -> Json.str(ctx.workload),
    "trace" -> ctx.trace.toString)

  private def metricsJson(ms: Seq[(String, Metric)]): String =
    Json.obj(ms.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    })

  private def report(ctx: Ctx, o: Outcome): Unit = {
    val printed = if (ctx.trace) o.layer else o.e2e
    o.notes.foreach(n => println(s"[${ctx.workload}] $n"))
    println(s"[${ctx.workload}] phase end times (s since JVM start): ${ctx.phases}")
    printed.foreach { case (k, m) => println(f"[${ctx.workload}] $k%-34s ${Json.num(m.value)} ${m.unit}") }
    println(s"[${ctx.workload}] attempted=${o.attempted} failed=${o.failed} " +
      s"fail_ratio=${if (o.attempted == 0) "n/a" else Json.num(o.failed.toDouble / o.attempted)}")
    val rec = Json.obj(Seq(
      "machine" -> Json.obj(machine(ctx)),
      "attempted" -> o.attempted.toString, "failed" -> o.failed.toString,
      "phase_end_s" -> ctx.phases,
      "end_to_end" -> metricsJson(o.e2e), "per_layer" -> metricsJson(o.layer)) ++ o.record)
    Files.writeString(ctx.outDir.resolve(s"${ctx.tag}.json"), rec + "\n")
    val result = Json.obj(Seq(
      "correct" -> (o.failed == 0 && o.attempted > 0).toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "metrics" -> metricsJson(printed)))
    println("RESULT " + result)
  }
}

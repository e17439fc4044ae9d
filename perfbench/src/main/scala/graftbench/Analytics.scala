package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `analytics`: a fixed, sorted set of `SparkEntry.queries` rows run as a
  * cold pass and then a warm pass in one fresh JVM, each query timed as
  * construction (the `queries` call) plus `.count()`. Per-query times are
  * summarised by geometric means: the rows differ by an order of magnitude,
  * and an order statistic of 8 or 16 of them jumps between rows. The rows mix
  * memo-free TPC-H queries (the control), CDC monitoring queries, and
  * ann/emb/mm rows whose first construction builds an artifact that
  * later passes reuse.
  */
object Analytics {
  val Rows: Seq[String] = Seq(
    "ann_pq_topk", "emb_pca", "mm_image_decode",
    "cdc_current_scd1", "cdc_debezium_parse", "cdc_snapshot_merge",
    "q1_pricing_summary", "q6_forecast").sorted

  /** One timed execution of one row. */
  final case class Exec(name: String, pass: String, constructS: Double, countS: Double,
      rows: Long, planS: Double, exchanges: Int, topk: Int, blockDelta: Long,
      error: Option[String]) {
    def totalS: Double = constructS + countS
  }

  def group(kind: String, name: String, pass: String) = s"$kind:$name:$pass"

  /** Physical plan nodes, looking through adaptive execution into the
    * plan it starts from, and into subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  /** Order-independent digest of a result: row count and the sum of a
    * 64-bit hash of each row's JSON form.
    */
  def digest(df: DataFrame): String = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(to_json(struct(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*)))
        .cast("decimal(38,0)"))).collect()(0)
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  def run(ctx: Ctx): Outcome = {
    val dir = ctx.dataDir
    require(Files.exists(java.nio.file.Paths.get(dir, TableGen.Marker)),
      s"analytics tables missing under $dir (write them with --gen-data)")
    val spark = Main.session(ctx.cores)
    ctx.mark("session")
    val sc = spark.sparkContext
    val tracer = new Tracer(ctx.trace)
    val layer = new SparkLayer
    if (ctx.trace) sc.addSparkListener(layer)

    // warm-up: JIT and session machinery, without touching any row's artifacts
    spark.range(0, 200000, 1, ctx.cores).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    spark.read.parquet(s"$dir/region.parquet").count()
    val setupS = ctx.mark("warmup")

    def exec(name: String, pass: String): Exec = {
      val blocks0 = if (ctx.trace) SparkLayer.blockBytes(sc) else 0L
      var (cS, nS, pS, rows, ex, tk) = (0.0, 0.0, 0.0, -1L, 0, 0)
      val err = try {
        sc.setJobGroup(group("construct", name, pass), name)
        val t0 = System.nanoTime()
        val df = tracer.span("operators.construct", s"$name/$pass") { _ =>
          SparkEntry.queries(name)(spark, dir)
        }
        cS = (System.nanoTime() - t0) / 1e9
        if (ctx.trace) {
          sc.setJobGroup(group("plan", name, pass), name)
          val tp = System.nanoTime()
          val plan = tracer.span("plans.plan", s"$name/$pass") { _ => df.queryExecution.executedPlan }
          pS = (System.nanoTime() - tp) / 1e9
          val ns = nodes(plan)
          ex = ns.count(_.isInstanceOf[Exchange])
          tk = ns.count(_.nodeName.startsWith("TopKPerGroup"))
        }
        sc.setJobGroup(group("count", name, pass), name)
        val t1 = System.nanoTime()
        rows = tracer.span("spark.count", s"$name/$pass") { _ => df.count() }
        nS = (System.nanoTime() - t1) / 1e9
        None
      } catch { case e: Throwable =>
        System.err.println(s"[analytics] $name ($pass) failed: $e")
        Some(Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n').take(200))
      } finally sc.clearJobGroup()
      val blocks1 = if (ctx.trace) SparkLayer.blockBytes(sc) else 0L
      Exec(name, pass, cS, nS, rows, pS, ex, tk, blocks1 - blocks0, err)
    }

    val cold = Rows.map(exec(_, "cold"))
    ctx.mark("cold")
    val warm = Rows.map(exec(_, "warm"))
    ctx.mark("warm")
    val retained = SparkLayer.blockBytes(sc)

    // correctness, outside the timed passes
    val expected = readExpected(ctx.expected)
    val oracle = SparkEntry.oracleSql.keySet
    val digested = if (ctx.record) Rows.filter(oracle.contains) else digestRows(ctx.seed)
    val digests = digested.map { name =>
      name -> (try Right(digest(SparkEntry.queries(name)(spark, dir)))
        catch { case e: Throwable => Left(e.toString) })
    }.toMap
    val checks = Rows.map { name =>
      val (exRows, exDigest) = expected.getOrElse(name, (-2L, "-"))
      val runs = Seq(cold, warm).map(_.find(_.name == name).get)
      val badRuns = runs.count(e => e.error.nonEmpty || (!ctx.record && e.rows != exRows))
      val badDigest = digests.get(name).map {
        case Left(_) => 1
        case Right(d) => if (ctx.record || d == exDigest) 0 else 1
      }.getOrElse(0)
      (name, runs.size + digests.get(name).size, badRuns + badDigest)
    }
    ctx.mark("check")
    if (ctx.record) writeExpected(ctx.expected, Rows.map { n =>
      (n, cold.find(_.name == n).get.rows, digests.get(n).flatMap(_.toOption).getOrElse("-"))
    })
    val attempted = checks.map(_._2).sum.toLong
    val failed = checks.map(_._3).sum.toLong

    val all = cold ++ warm
    val coldS = cold.map(_.totalS).sum
    val warmS = warm.map(_.totalS).sum
    val pooled = Pct.summary(all.map(_.totalS * 1e3))
    val e2e = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "throughput_per_s" -> Metric(all.size / (coldS + warmS), "1/s"),
      "latency_ms" -> Metric(Pct.geomean(all.map(_.totalS * 1e3)), "ms"),
      "tail_ms" -> Metric(Pct.geomean(cold.map(_.totalS * 1e3)), "ms"),
      "read_ms" -> Metric(Pct.geomean(warm.map(_.totalS * 1e3)), "ms"))
    val notes = Seq(
      f"cold_total_s=$coldS%.3f warm_total_s=$warmS%.3f retained_mb=${retained / 1048576.0}%.3f " +
        s"over ${Rows.size} rows",
      pooled.render("per-query time, both passes", "ms")) ++
      checks.filter(_._3 > 0).map { case (n, _, b) => s"MISMATCH $n: $b failed check(s)" }

    val layerVals: Map[String, Double] = if (!ctx.trace) Map.empty else {
      layer.drain(sc)
      val timed = (j: JobRec) => j.group.startsWith("construct:") || j.group.startsWith("count:")
      val totals = layer.totals(timed)
      val driverS = all.map { e =>
        val t = layer.totals(j => j.group == group("construct", e.name, e.pass) ||
          j.group == group("count", e.name, e.pass))
        e.totalS - t.busyMs / 1e3
      }.sum
      val gap = Rows.map(n => cold.find(_.name == n).get.totalS - warm.find(_.name == n).get.totalS)
      Layers.spark(totals, driverS) ++ Map(
        "operators.cold_total_s" -> coldS,
        "operators.warm_total_s" -> warmS,
        "operators.construct_cold_s" -> cold.map(_.constructS).sum,
        "operators.construct_warm_s" -> warm.map(_.constructS).sum,
        "operators.eager_jobs" -> layer.jobsWhere(_.group.startsWith("construct:")).size.toDouble,
        "operators.cold_warm_gap_s" -> gap.sum,
        "plans.plan_s" -> all.map(_.planS).sum,
        "plans.exchanges" -> warm.map(_.exchanges).sum.toDouble,
        "plans.topk_exec" -> warm.map(_.topk).sum.toDouble,
        "spark.block_bytes" -> retained.toDouble,
        "trace.throughput_per_s" -> e2e(1)._2.value, "trace.latency_ms" -> e2e(2)._2.value,
        "trace.tail_ms" -> e2e(3)._2.value, "trace.read_ms" -> e2e(4)._2.value)
    }
    val perQuery = all.map { e =>
      val extra = if (!ctx.trace) Nil else {
        val t = layer.totals(j => j.group == group("construct", e.name, e.pass) ||
          j.group == group("count", e.name, e.pass))
        Seq("eager_jobs" -> layer.jobsWhere(_.group == group("construct", e.name, e.pass))
          .size.toString, "jobs" -> t.jobs.toString, "stages" -> t.stages.toString,
          "tasks" -> t.tasks.toString, "executor_cpu_s" -> Json.num(t.cpuS),
          "gc_s" -> Json.num(t.gcS), "shuffle_read_bytes" -> t.shuffleRead.toString,
          "shuffle_write_bytes" -> t.shuffleWrite.toString, "spill_bytes" -> t.spill.toString,
          "input_bytes" -> t.input.toString, "peak_exec_mem_bytes" -> t.peakMem.toString,
          "driver_s" -> Json.num(e.totalS - t.busyMs / 1e3), "plan_s" -> Json.num(e.planS),
          "exchanges" -> e.exchanges.toString, "topk_exec" -> e.topk.toString,
          "block_bytes_delta" -> e.blockDelta.toString)
      }
      Json.obj(Seq("name" -> Json.str(e.name), "pass" -> Json.str(e.pass),
        "construct_s" -> Json.num(e.constructS), "count_s" -> Json.num(e.countS),
        "rows" -> e.rows.toString) ++ extra)
    }
    if (ctx.trace) tracer.write(ctx.outDir.resolve(s"${ctx.tag}-spans.jsonl"))
    spark.stop()
    val record = Seq(
      "workload_params" -> Json.obj(Seq("rows" -> Rows.map(Json.str).mkString("[", ",", "]"),
        "tables" -> Json.str(TableGen.Version))),
      "cold_total_s" -> Json.num(coldS), "warm_total_s" -> Json.num(warmS),
      "retained_mb" -> Json.num(retained / 1048576.0),
      "samples" -> pooled.n.toString,
      "queries" -> perQuery.mkString("[", ",", "]"))
    Outcome(attempted, failed, e2e, if (ctx.trace) Layers.complete(layerVals) else Nil,
      record, notes)
  }

  /** Oracle-checked rows whose digest a run checks: [[DigestsPerRun]] of
    * them, picked by the seed, so the check stays outside the time budget
    * while every row is covered across seeds.
    */
  val DigestsPerRun = 3

  def digestRows(seed: Long): Seq[String] = {
    val oracle = SparkEntry.oracleSql.keySet
    Rows.filter(oracle.contains)
      .sortBy(n => scala.util.hashing.MurmurHash3.stringHash(n, seed.toInt))
      .take(DigestsPerRun).sorted
  }

  /** name → (rows, digest or "-") from the tab-separated expectations. */
  def readExpected(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filterNot(l => l.isBlank || l.startsWith("#")).map { l =>
      val Array(n, r, d) = l.split("\t")
      n -> (r.toLong, d)
    }.toMap

  def writeExpected(p: Path, rows: Seq[(String, Long, String)]): Unit =
    Files.writeString(p, ("# name\trows\tdigest (rows-only queries: -)" +:
      rows.map { case (n, r, d) => s"$n\t$r\t$d" }).mkString("", "\n", "\n"))
}

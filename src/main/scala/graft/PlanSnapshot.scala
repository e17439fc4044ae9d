package graft

/** Plan-shape snapshot for the whole query inventory — the `.explain`
  * habit upgraded to a committed CI artifact: one JSON object per
  * registered query with the pre-execution plan's structural metrics
  * (exchanges, join kinds, scans, pushdown, codegen eligibility, and the
  * join-safety classification from [[graft.plans.PlanAudit.joinSafety]]).
  *
  * `tools/plan_diff.py` compares a fresh snapshot against the committed
  * `PLAN_BASELINE.json` and fails on any structural REGRESSION — a
  * broadcast flipping to sort-merge, a new shuffle, a scan losing its
  * pushed filter, a cartesian appearing. Bench timings wobble with
  * machine load; plan shapes don't — so this gate catches what the bench
  * gate can only see through noise, and catches it at sf0.001 in
  * seconds instead of at 100 TB in an incident review.
  *
  * Determinism: metrics are read off the AQE `initialPlan` (no job runs
  * for the metric read; some query CONSTRUCTORS run bounded jobs — the
  * k-means samples, BPE merges — exactly as Verify does), with the same
  * session the spec suite builds (`GraftSession.build(4)`), so the
  * snapshot is a pure function of the corpus snapshot and the code.
  *
  * Usage: runMain graft.PlanSnapshot [sfDir] [outPath]
  */
object PlanSnapshot {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = if (args.length > 1) args(1) else "PLAN_BASELINE.json"
    val spark = GraftSession.build(4)
    // planProbes override memoized-artifact reads with the un-memoized
    // funnel builders so the snapshot pins the real plan structure
    val rows = (SparkEntry.queries ++ SparkEntry.planProbes)
      .toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val m = graft.plans.PlanAudit.summarize(df).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap ++
          graft.plans.PlanAudit.joinSafety(df)
        Some(name -> m)
      } catch {
        case e: Throwable =>
          System.err.println(s"[plan-snapshot] $name failed: ${e.getMessage}")
          None
      }
    }
    val json = rows.map { case (name, m) =>
      val fields = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s""""$name":{$fields}"""
    }.mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(s"[plan-snapshot] wrote ${rows.size} query plans to $outPath")
    spark.stop()
  }
}

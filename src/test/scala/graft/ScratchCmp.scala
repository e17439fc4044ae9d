package graft

/** Dev-only equivalence check (test scope — never ships): run one or more
  * declared queries against a small SF and exceptAll-compare the result
  * with a previously written `graft.Verify` dump of the SAME corpus —
  * the fast per-change oracle-parity probe used between full Verify runs.
  *
  * Run: sbt "Test/runMain graft.ScratchCmp <dumpDir> <sfDir> <q1,q2,...>"
  */
object ScratchCmp {
  def main(args: Array[String]): Unit = {
    val dumpDir = args(0)
    val sfDir = args(1)
    val names = args(2).split(",").toSeq
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    var bad = 0
    names.foreach { name =>
      val now = SparkEntry.queries(name)(spark, sfDir)
      val old = spark.read.parquet(s"$dumpDir/$name")
      val sN = now.schema.map(f => f.name + ":" + f.dataType.simpleString)
      val sO = old.schema.map(f => f.name + ":" + f.dataType.simpleString)
      val schemaOk = sN == sO
      val d1 = now.exceptAll(old).count()
      val d2 = old.exceptAll(now).count()
      val ok = schemaOk && d1 == 0 && d2 == 0
      if (!ok) bad += 1
      println(s"[cmp] $name: " + (if (ok) "IDENTICAL"
        else s"DIFFER (new-old=$d1 old-new=$d2 schemaOk=$schemaOk)\n" +
          s"[cmp]   new=${sN.mkString(",")}\n[cmp]   old=${sO.mkString(",")}"))
    }
    println(s"[cmp] done: ${names.size - bad}/${names.size} identical")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}

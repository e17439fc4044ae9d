package graft

/** Oracle-parity probe between full [[Verify]] runs: runs the named
  * queries against a corpus and exceptAll-compares each result (rows and
  * schema) with a `graft.Verify` dump of the SAME corpus. Exits non-zero
  * if any query differs.
  *
  * Run: `sbt "runMain graft.VerifyCompare <dumpDir> <sfDir> <q1,q2,...>"`
  * (cores from `SPARK_GRAFT_CPUS`, default 4, as in [[Bench]]).
  */
object VerifyCompare {
  def main(args: Array[String]): Unit = {
    val dumpDir = args(0)
    val sfDir = args(1)
    val names = args(2).split(",").toSeq
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
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

package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** Traced-run-only measurements of single CDC layers, taken after the
  * timed drain so they never overlap it.
  */
object CdcExtras {
  private def timeS(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  def batchRead(spark: SparkSession, logRoot: String, topic: String) =
    spark.read.format("kafkalog").option("path", logRoot).option("topic", topic).load()

  /** `sources`: one batch read of the whole topic into the noop sink. */
  def scanS(spark: SparkSession, logRoot: String, topic: String): Double =
    timeS(batchRead(spark, logRoot, topic).write.format("noop").mode("overwrite").save())

  /** `sources` + `cdc`: the same read through the silver parse. */
  def parseS(spark: SparkSession, logRoot: String, topic: String): Double =
    timeS(CdcPipeline.silver(batchRead(spark, logRoot, topic))
      .write.format("noop").mode("overwrite").save())

  /** Drain rate on all cores over drain rate on one, for the same small
    * topic. Stops `spark`; the one-core session is stopped before return.
    */
  def speedup(spark: SparkSession, gen: CdcGen, root: Path, batch: Long): Double = {
    val logRoot = root.resolve("log").toString
    val n = 5 * batch
    CdcPipeline.produce(gen, logRoot, "speed", 0, n, 50000)
    val off = new Tracer(false)
    val all = Drain.drain(spark, off, logRoot, "speed", root.resolve("speed-n"), batch)
    spark.stop()
    val one = Main.session(1)
    try {
      val single = Drain.drain(one, off, logRoot, "speed", root.resolve("speed-1"), batch)
      single.wallS / all.wallS
    } finally one.stop()
  }
}

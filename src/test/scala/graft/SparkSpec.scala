package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared session base: one local SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** The SCD1 state of a CDC event frame, computed directly: each
    * `user_id`'s latest event by (`ts_us`, `event_id`), and no key whose
    * latest event is a DELETE. The reference gold paths are checked against.
    */
  def scd1Reference(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us").desc, col("event_id").desc)
    events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("operation") =!= "DELETE").drop("rn")
  }

  /** The jobs `body` starts, by call site: a listener sees every job start
    * between two sentinel jobs, so the listener queue is drained on return.
    */
  def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val (open, close) = (s"open-${System.nanoTime}", s"close-${System.nanoTime}")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val closed = new java.util.concurrent.CountDownLatch(1)
    @volatile var opened = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val desc = props.map(_.getProperty("spark.job.description"))
        if (desc.contains(open)) opened = true
        else if (desc.contains(close)) closed.countDown()
        else if (opened) seen.add(desc.flatMap(Option(_))
          .orElse(props.flatMap(p => Option(p.getProperty("callSite.short")))).getOrElse(""))
      }
    }
    def sentinel(d: String): Unit = {
      sc.setJobDescription(d)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel(open)
      val r = body
      sentinel(close)
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.build(4)
}

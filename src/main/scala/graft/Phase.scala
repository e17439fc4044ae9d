package graft

import org.apache.spark.sql.SparkSession

/** Labels the Spark jobs graft runs internally. `Phase("gold.compact") { … }`
  * sets the `graft.phase` local property of the calling thread for the
  * duration of the block and restores the previous value afterwards, so a
  * listener (or Spark's event log) finds the label in every
  * `SparkListenerJobStart`'s properties. It never touches the job group,
  * which belongs to the caller (a bench, a streaming query).
  */
object Phase {
  val Key = "graft.phase"

  def apply[T](name: String)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val previous = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    try body finally sc.setLocalProperty(Key, previous)
  }
}

package graft.core

import org.apache.spark.sql.SparkSession

/** Names the verb a Spark job runs for. Every job launched inside
  * `OpLabel(spark, "dedup.exact_admit") { ... }` carries the local
  * property `graft.op` with that name, AQE stage jobs included (they
  * inherit the calling thread's local properties), so a listener can
  * tie each job to its verb. The caller's own label is restored
  * afterwards, so labels nest. */
object OpLabel {

  val Key = "graft.op"

  def apply[T](spark: SparkSession, op: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, op)
    try body finally sc.setLocalProperty(Key, outer)
  }
}

package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job counter for specs that guard how many Spark jobs a verb runs. */
object SparkJobs {

  /** Jobs started while `body` runs: the count between two fence jobs,
    * each awaited on the listener bus, so no event is missed or
    * borrowed from a neighbour. */
  def during(spark: SparkSession)(body: => Unit): Int = {
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    val id = UUID.randomUUID()
    val (a, b) = (s"jobs-fence-a-$id", s"jobs-fence-b-$id")
    sc.addSparkListener(l)
    def fence(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count(): Unit
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(tag) && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(seen.contains(tag), s"fence $tag never reached the listener")
    }
    try {
      fence(a)
      body
      fence(b)
      val js = seen.asScala.toSeq
      js.indexOf(b) - js.indexOf(a) - 1
    } finally sc.removeSparkListener(l)
  }
}

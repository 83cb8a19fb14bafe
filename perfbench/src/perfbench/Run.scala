package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.StructType

/** One workload: its set-up builds everything the timed ops need, and
  * each step is one op of a closed loop with a single client. */
trait Workload {
  /** Generate the inputs and build the tables or indexes. */
  def setup(): Unit
  /** One cycle of ops, the same mix each time; returns false once the
    * generated inputs are used up. */
  def step(run: Run): Boolean
  /** Checks of the final outputs against the generator's expectations. */
  def verify(): Boolean
  /** Directories whose bytes count as stored data. */
  def dataDirs: Seq[String]
  /** Bytes of input the generator produced for what was stored. */
  def inputBytes: Long
  /** Steps run after set-up and before timing, so that the op paths
    * the set-up does not exercise are compiled and loaded. */
  def warmupSteps: Int = 1
  /** The retention a deployment runs between bursts of work; done before
    * and after the timed phase, ahead of each stored-bytes measurement. */
  def retention(): Unit = ()
  /** Per-layer counters only the workload can read (traced runs). */
  def layerCounters(): Unit = ()
}

/** What one run measures, shared by the workloads. */
final class Run(val spark: SparkSession, val tr: Tracer) {
  /** Seconds from a write batch's generator stamp until it is readable. */
  val freshness = new Samples
  /** Milliseconds per read op of the workload's main read path (point
    * lookups; ANN searches). */
  val reads = new Samples
  /** Milliseconds per README analytics read (serve_mixed). */
  val queries = new Samples
  var writeRows = 0L
  /** Per read: share of the expected answer that the read returned. */
  val recalls = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val opsByKind = mutable.LinkedHashMap.empty[String, Long]
  private var nextOp = 0

  /** Runs one op; an exception or a failed output check counts it as
    * failed. */
  def op(kind: String)(body: => Boolean): Unit = {
    attempted += 1
    opsByKind(kind) = opsByKind.getOrElse(kind, 0L) + 1
    tr.op = nextOp
    nextOp += 1
    val ok =
      try body
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $kind op failed: $e")
          e.printStackTrace()
          false
      }
    if (!ok) failed += 1
    tr.op = -1
  }

  /** Times `body` as the op's root span; returns its result and seconds. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = tr.span(name)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Run {
  def check(what: String, ok: Boolean): Boolean = {
    if (!ok) System.err.println(s"[perfbench] check failed: $what")
    ok
  }

  def df(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  def appendLines(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path), lines.map(_ + "\n").mkString.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND): Unit

  /** (data files, bytes of all files) under `dir`, 0 when absent. Data
    * files are those not hidden by a leading `_` or `.`. */
  def usage(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) =>
          val name = f.getFileName.toString
          val data = !name.startsWith("_") && !name.startsWith(".")
          (n + (if (data) 1 else 0), b + Files.size(f))
        }
      finally s.close()
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}

/** Reads the file-scan metrics of an executed plan, through adaptive
  * query stages. */
object ScanMetrics extends AdaptiveSparkPlanHelper {
  /** (files, rows) the plan's file scans read. */
  def of(df: DataFrame): (Long, Long) = {
    val scans = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def m(s: FileSourceScanExec, k: String) =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "numOutputRows")).sum)
  }
}

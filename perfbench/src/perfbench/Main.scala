package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *                  --trace <0|1> --work <dir>
  *
  * Builds a session the way the program's entrypoints do, sets the
  * workload up `SetupReps` times (reporting the median), runs its closed
  * loop of whole steps until `--seconds` have passed, checks the outputs,
  * and prints one JSON line: the end-to-end metrics untraced, the
  * per-layer metrics traced. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tr = new Tracer(traced)

    def make(dir: String): Workload = workload match {
      case "serve_mixed" => new ServeMixed(spark, tr, seed, dir, seconds)
      case "curate_dedup_ann" => new CurateDedupAnn(spark, tr, seed, dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set up several times into fresh directories; the last one is used
    var w: Workload = null
    val setups = (0 until SetupReps).map { r =>
      if (r > 0) Run.deleteTree(Paths.get(s"$work/data-${r - 1}"))
      val s0 = System.nanoTime()
      w = make(s"$work/data-$r")
      w.setup()
      (System.nanoTime() - s0) / 1e9
    }
    val warm = new Run(spark, tr)
    val w0 = System.nanoTime()
    (0 until w.warmupSteps).foreach(_ => w.step(warm))
    val warmS = (System.nanoTime() - w0) / 1e9
    // generation and table/index build only: the JVM and session start
    // and the warm-up are not repeated, and vary more than they take
    val setupS = setups.sorted.apply(SetupReps / 2)

    w.retention()
    val stored0 = w.dataDirs.map(Run.usage(_)._2).sum
    val input0 = w.inputBytes

    val listener = if (traced) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    tr.reset()
    TaskCounters.reset()
    val run = new Run(spark, tr)
    spark.sparkContext.setLocalProperty(LayerListener.PhaseKey, "timed")
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var more = true
    while (more && elapsed < seconds) more = w.step(run)
    val wall = elapsed
    spark.sparkContext.setLocalProperty(LayerListener.PhaseKey, "after")
    if (!more) System.err.println(
      "[perfbench] the generated inputs ran out before the time was up")

    // a second collection after Spark's cleaner has released the blocks
    // of the first one's unreachable RDDs
    System.gc()
    Thread.sleep(200)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
    val f0 = System.nanoTime()
    if (traced) w.layerCounters()
    w.retention()
    val storedBytes = w.dataDirs.map(Run.usage(_)._2).sum
    val correct = w.verify() && run.failed == 0 && warm.failed == 0

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("freshness_p50_s", run.freshness.p50, "s"),
        ("write_rows_per_s", run.writeRows / wall, "rows/s"),
        ("read_p50_ms", run.reads.p50, "ms"),
        ("read_tail_ms", run.reads.tail, "ms"),
        ("read_recall", run.recalls.sum / run.recalls.size, "ratio"),
        ("storage_amp", (storedBytes - stored0).toDouble /
          (w.inputBytes - input0), "ratio"),
        ("heap_live_mb", heapMb, "MB"),
        ("success_rate", 1.0 - run.failed.toDouble / run.attempted, "ratio"))
      else {
        listener.foreach(_ => PerfbenchBus.drain(spark.sparkContext))
        Layers.metrics(run, tr, listener.get, wall, cores)
      }
    if (traced) tr.writeJsonLines(Paths.get(work).getParent
      .resolve(s"traces/$workload-$seed.jsonl"))
    val finishS = (System.nanoTime() - f0) / 1e9

    System.err.println(f"[perfbench] $workload seed=$seed local[$cores] " +
      f"setup=${setups.map(s => f"$s%.2f").mkString("/")}s " +
      f"session=$sessionS%.2fs warmup=$warmS%.2fs ops=${run.opsByKind.mkString(",")} " +
      f"writes n=${run.freshness.n} reads n=${run.reads.n} " +
      f"(tail = p${run.reads.tailPercentile}%.1f) queries n=${run.queries.n} " +
      f"wall=$wall%.1fs checks=$finishS%.1fs")
    System.err.println("[perfbench] samples: freshness_s " +
      run.freshness.values.map(v => f"$v%.2f").mkString(",") + " read_ms " +
      run.reads.values.map(v => f"$v%.0f").mkString(","))
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, """ +
      s""""attempted": ${warm.attempted + run.attempted}, """ +
      s""""failed": ${warm.failed + run.failed}, "metrics": {$body}}""")
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  /** The session as the program's entrypoints build it: SessionTuning
    * plus the graft extensions, at local[cores]. */
  def session(cores: Int, work: String): SparkSession = {
    val s = graft.core.SessionTuning(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

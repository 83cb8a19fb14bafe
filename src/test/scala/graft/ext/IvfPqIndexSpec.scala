package graft.ext

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

class IvfPqIndexSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // 64-dim vectors (PQ_M=32 × PQ_SUBDIM=2 — the codebook geometry)
  private def vec(seed: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(64)(r.nextGaussian().toFloat)
  }

  private def df(rows: (Long, Array[Float])*) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def corpus(n: Int) = df((0L until n.toLong).map(i =>
    i -> vec(i.toInt + 1)): _*)

  test("lifecycle: create on a training half, add both batches — every " +
      "vector lands with its cell and exactly PQ_M codes") {
    val idx = Files.createTempDirectory("ivfpq-idx1").toString + "/index"
    val all = corpus(40)
    val train = all.filter(col("vec_id") % 2 === 0)
    IvfPqIndex.create(spark, idx, train)
    IvfPqIndex.add(spark, idx, train, runId = 0L)
    IvfPqIndex.add(spark, idx, all.filter(col("vec_id") % 2 === 1),
      runId = 1L)
    val rows = IvfPqIndex.readIndex(spark, idx)
      .select(col("vec_id"), size(col("codes")).as("m"), col("cell"))
      .collect()
    assert(rows.length == 40)
    assert(rows.forall(_.getInt(1) == Similarity.PQ_M))
    // cells are the coarse codebook's ids: the 8 smallest TRAIN vec_ids
    val trainIds = (0 until 16 by 2).toSet
    assert(rows.map(_.getInt(2)).toSet.subsetOf(trainIds))
  }

  test("codebooks are frozen: a second create throws, and adds encode " +
      "deterministically against the persisted meta") {
    val base = Files.createTempDirectory("ivfpq-idx2").toString
    val idx1 = base + "/i1"
    val idx2 = base + "/i2"
    val all = corpus(30)
    val train = all.filter(col("vec_id") < 20)
    IvfPqIndex.create(spark, idx1, train)
    val ex = intercept[IllegalStateException] {
      IvfPqIndex.create(spark, idx1, train)
    }
    assert(ex.getMessage.contains("frozen"))
    // same training frame → same codebooks → bit-identical codes for a
    // batch added to either index (the frozen-encoding contract)
    IvfPqIndex.create(spark, idx2, train)
    val batch = all.filter(col("vec_id") >= 20)
    def codesOf(idx: String) = IvfPqIndex.add(spark, idx, batch, runId = 7L)
      .select("vec_id", "codes", "cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq, r.getInt(2)))
      .sortBy(_._1).toSeq
    assert(codesOf(idx1) == codesOf(idx2))
  }

  test("add is idempotent per runId: a replayed run overwrites its own " +
      "partition instead of appending duplicate code rows") {
    val idx = Files.createTempDirectory("ivfpq-idx6").toString + "/index"
    val all = corpus(20)
    IvfPqIndex.create(spark, idx, all)
    IvfPqIndex.add(spark, idx, all, runId = 0L)
    val once = IvfPqIndex.readIndex(spark, idx)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq))
      .sortBy(_._1).toSeq
    // the kill-mid-batch replay path: same runId, same batch
    IvfPqIndex.add(spark, idx, all, runId = 0L)
    val twice = IvfPqIndex.readIndex(spark, idx)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq))
      .sortBy(_._1).toSeq
    assert(twice == once, "replayed add changed the index contents")
    // the reserved epoch id is rejected
    intercept[IllegalArgumentException] {
      IvfPqIndex.add(spark, idx, all, runId = -1L)
    }
  }

  test("add/search before create throw the no-codebooks contract") {
    val idx = Files.createTempDirectory("ivfpq-idx3").toString + "/index"
    val b = corpus(5)
    val exAdd = intercept[IllegalStateException] {
      IvfPqIndex.add(spark, idx, b, runId = 0L)
    }
    assert(exAdd.getMessage.contains("no trained codebooks"))
    intercept[IllegalStateException] {
      IvfPqIndex.search(spark, idx, b)
    }
  }

  test("search finds an exact duplicate of an indexed vector in its " +
      "top-k, with k rows per query and ranks 1..k") {
    val idx = Files.createTempDirectory("ivfpq-idx4").toString + "/index"
    val all = corpus(40)
    IvfPqIndex.create(spark, idx, all)
    IvfPqIndex.add(spark, idx, all, runId = 0L)
    // vec 100 duplicates vec 3's embedding exactly: identical grid →
    // identical cell and codes → minimal possible ADC distance
    IvfPqIndex.add(spark, idx, df(100L -> vec(4)), runId = 1L)
    val q = df(3L -> vec(4))
    val res = IvfPqIndex.search(spark, idx, q, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(res.length == 5)
    assert(res.map(_._3).toSeq == (1L to 5L))
    assert(res.exists(_._2 == 100L), "exact duplicate missing from top-5")
  }

  test("compact: runs collapse into the batch=-1 epoch at one file per " +
      "cell, contents invariant, and the codebook meta survives") {
    val idx = Files.createTempDirectory("ivfpq-idx5").toString + "/index"
    val all = corpus(30)
    IvfPqIndex.create(spark, idx, all)
    // three runs decay the layout
    (0 until 3).foreach { k =>
      IvfPqIndex.add(spark, idx, all.filter(col("vec_id") % 3 === k),
        runId = k.toLong)
    }
    def contents = IvfPqIndex.readIndex(spark, idx)
      .select("vec_id", "codes", "cell")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq, r.getInt(2)))
      .sortBy(_._1).toSeq
    val before = contents
    IvfPqIndex.compact(spark, idx)
    // layout: exactly one batch=-1 epoch dir, one parquet file per cell
    val batchDirs = new java.io.File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batchDirs.map(_.getName).toSeq == Seq("batch=-1"))
    val filesPerCell = batchDirs.head.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(filesPerCell.nonEmpty && filesPerCell.values.forall(_ == 1),
      s"compaction left multi-file cells: $filesPerCell")
    assert(contents == before)
    // meta carried: search (needs codebooks) still runs post-swap
    assert(IvfPqIndex.search(spark, idx, df(0L -> vec(1)), k = 3)
      .count() == 3)
    // excludeBatch drops the in-flight run from the rewrite: its rows
    // disappear (the replay re-derives them), committed rows remain
    IvfPqIndex.add(spark, idx, df(200L -> vec(77)), runId = 9L)
    IvfPqIndex.compact(spark, idx, excludeBatch = Some(9L))
    assert(contents == before, "excluded run leaked into the epoch")
  }

  test("forget: tombstoned ids vanish from serve lazily, compact drops " +
      "them physically and retires the side table") {
    val idx = Files.createTempDirectory("ivfpq-forget")
      .resolve("index").toString
    val c = corpus(40)
    IvfPqIndex.create(spark, idx, c)
    IvfPqIndex.add(spark, idx, c, runId = 0L)
    // query with an exact duplicate of indexed vector 5 (q99 discipline:
    // its nearest neighbor is vec 5 itself at adist floor)
    val q = df(1000L -> vec(6)) // vec(6) == corpus row 5's embedding
    val top = IvfPqIndex.search(spark, idx, q, k = 3)
      .select("n_id").collect().map(_.getLong(0))
    assert(top.contains(5L), s"sanity: 5 should serve, got ${top.toSeq}")

    import spark.implicits._
    IvfPqIndex.forget(spark, idx, Seq(5L).toDF("vec_id"))
    // LAZY state: rows still on disk, but the serve suppresses them
    val lazyTop = IvfPqIndex.search(spark, idx, q, k = 3)
      .select("n_id").collect().map(_.getLong(0))
    assert(!lazyTop.contains(5L), s"forgotten id served: ${lazyTop.toSeq}")
    assert(lazyTop.length == 3, "forget must promote, not leave a hole")
    assert(IvfPqIndex.readIndex(spark, idx)
      .filter(col("vec_id") === 5L).count() == 1L)

    // PHYSICAL state: compact drops the row and the _tombstones dir
    IvfPqIndex.compact(spark, idx)
    assert(IvfPqIndex.readIndex(spark, idx)
      .filter(col("vec_id") === 5L).count() == 0L)
    assert(!new java.io.File(s"$idx/_tombstones").exists(),
      "side table must retire with the swap")
    val physTop = IvfPqIndex.search(spark, idx, q, k = 3)
      .select("n_id").collect().map(_.getLong(0))
    assert(physTop.toSeq == lazyTop.toSeq,
      "serve must be identical across lazy and physical states")
  }

  test("searchFiltered pre-filters: an excluded near neighbor promotes " +
      "the next allowed candidate, and the filter composes with forget") {
    import spark.implicits._
    val idx = Files.createTempDirectory("ivfpq-filter")
      .resolve("index").toString
    val c = corpus(40)
    IvfPqIndex.create(spark, idx, c)
    IvfPqIndex.add(spark, idx, c, runId = 0L)
    val q = df(1000L -> vec(6)) // exact duplicate of corpus vector 5

    val unfiltered = IvfPqIndex.search(spark, idx, q, k = 3)
      .select("n_id").collect().map(_.getLong(0))
    assert(unfiltered.contains(5L))

    // allow only even ids: vector 5 is excluded; k results must STILL
    // come back (pre-filter promotes, post-filter would leave 2)
    val evens = (0L until 40L by 2).toDF("vec_id")
    val filtered = IvfPqIndex.searchFiltered(spark, idx, q, evens, k = 3)
      .select("n_id").collect().map(_.getLong(0))
    assert(filtered.length == 3, s"under-returned: ${filtered.toSeq}")
    assert(filtered.forall(_ % 2 == 0), s"filter leaked: ${filtered.toSeq}")

    // forget composes: tombstone the filtered top-1; it vanishes, the
    // serve still returns k allowed candidates
    IvfPqIndex.forget(spark, idx, Seq(filtered.head).toDF("vec_id"))
    val both = IvfPqIndex.searchFiltered(spark, idx, q, evens, k = 3)
      .select("n_id").collect().map(_.getLong(0))
    assert(both.length == 3 && !both.contains(filtered.head) &&
      both.forall(_ % 2 == 0), s"forget+filter compose broke: ${both.toSeq}")
  }

  test("searchFiltered is selectivity-adaptive in PLAN: the id set " +
      "broadcasts below the size cutoff, degrades to a shuffled hash " +
      "semi-join above it — results identical in both regimes") {
    import spark.implicits._
    val idx = Files.createTempDirectory("ivfpq-adaptive-plan")
      .resolve("index").toString
    val c = corpus(40)
    IvfPqIndex.create(spark, idx, c)
    IvfPqIndex.add(spark, idx, c, runId = 0L)
    // 6 tombstones: above the 64b-regime cutoff (4 rows), so BOTH the
    // anti (tombstones) and semi (allowed) sides cross the gate together
    IvfPqIndex.forget(spark, idx,
      Seq(1L, 3L, 7L, 9L, 11L, 13L).toDF("vec_id"))
    val q = df(1000L -> vec(6))
    val evens = (0L until 40L by 2).toDF("vec_id")
    def semiAntiLines(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("LeftSemi") || l.contains("LeftAnti"))
        .toSeq
    // HIGH-selectivity regime (default 10MB threshold): ids broadcast
    val small = IvfPqIndex.searchFiltered(spark, idx, q, evens, k = 3)
    val smallLines = semiAntiLines(small)
    assert(smallLines.nonEmpty && smallLines.forall(_.contains("Broadcast")),
      s"small id set should broadcast:\n${smallLines.mkString("\n")}")
    val smallRes = small.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3))).toSeq
    // LOW-selectivity regime: drop the session broadcast budget so the
    // same 20-row set is over-cutoff — the plan the 10^10-row case needs
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thrKey)
    spark.conf.set(thrKey, "64b")
    try {
      val big = IvfPqIndex.searchFiltered(spark, idx, q, evens, k = 3)
      val bigLines = semiAntiLines(big)
      assert(bigLines.nonEmpty && bigLines.forall(l =>
          !l.contains("Broadcast") && l.contains("ShuffledHashJoin")),
        s"over-cutoff id set must not broadcast:\n${bigLines.mkString("\n")}")
      val bigRes = big.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSeq
      assert(bigRes == smallRes,
        "join-regime switch changed serve results")
    } finally spark.conf.set(thrKey, prev)
  }

  test("adaptiveNprobe escalates by inverse selectivity, caps at " +
      "COARSE_K, and leaves full selectivity untouched") {
    assert(IvfPqIndex.adaptiveNprobe(2, 500, 500) == 2) // s=1: no change
    assert(IvfPqIndex.adaptiveNprobe(2, 250, 500) == 4) // s=.5: double
    assert(IvfPqIndex.adaptiveNprobe(2, 150, 500) == 8) // ceil(10/3)=4 → 8
    assert(IvfPqIndex.adaptiveNprobe(2, 10, 500) == 8) // capped at K
    assert(IvfPqIndex.adaptiveNprobe(2, 0, 500) == 2) // degenerate: keep
  }

  test("searchFilteredAdaptive widens the probe set under a selective " +
      "filter and never returns below-k or disallowed rows") {
    import spark.implicits._
    val idx = Files.createTempDirectory("ivfpq-adaptive")
      .resolve("index").toString
    val c = corpus(40)
    IvfPqIndex.create(spark, idx, c)
    IvfPqIndex.add(spark, idx, c, runId = 0L)
    val q = df(1000L -> vec(6))
    val evens = (0L until 40L by 2).toDF("vec_id")
    // s=0.5 → nprobe'=4: the adaptive serve's candidate pool must cover
    // at least the fixed-width serve's (monotone in nprobe), so every
    // fixed-width hit stays reachable and k rows come back allowed
    val adaptive = IvfPqIndex.searchFilteredAdaptive(spark, idx, q, evens,
      k = 3, nprobe = 2).select("n_id").collect().map(_.getLong(0))
    assert(adaptive.length == 3 && adaptive.forall(_ % 2 == 0),
      s"adaptive serve broke the filter contract: ${adaptive.toSeq}")
    // at full selectivity the policy is a no-op: identical to search's
    // plain top-k restricted to the (complete) allowed set
    val all = (0L until 40L).toDF("vec_id")
    val adaptiveAll = IvfPqIndex.searchFilteredAdaptive(spark, idx, q, all,
      k = 3, nprobe = 2).collect().map(r => (r.getLong(0), r.getLong(1)))
    val plain = IvfPqIndex.search(spark, idx, q, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(adaptiveAll.toSeq == plain.toSeq)
  }

  private def rowsOf(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  /** The relational top-k: every scored candidate ranked by a window
    * on (adist, n_id) — the form the fused serve must reproduce. */
  private def windowTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("adist"), asc("n_id"))))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("n_id"), col("adist"),
        col("rk").cast("long").as("rk"))
      .orderBy("q_id", "rk")

  test("the fused serve equals the relational scoring + window top-k " +
      "row for row: ties by n_id, self-exclusion, tombstones, allowed " +
      "ids, k above a cell's population, and an index with no adds") {
    import spark.implicits._
    val idx = Files.createTempDirectory("ivfpq-fused").toString + "/index"
    val c = corpus(40)
    IvfPqIndex.create(spark, idx, c)
    IvfPqIndex.add(spark, idx, c.filter(col("vec_id") % 2 === 0), runId = 0L)
    IvfPqIndex.add(spark, idx, c.filter(col("vec_id") % 2 === 1), runId = 1L)
    // ids 100..103 duplicate id 3's embedding: same cell, same codes,
    // so equal adist to any query — ranked by n_id
    IvfPqIndex.add(spark, idx,
      df((100L to 103L).map(_ -> vec(4)): _*), runId = 2L)
    IvfPqIndex.forget(spark, idx, Seq(101L, 7L).toDF("vec_id"))
    // 3 is indexed (self-exclusion); 1000 ties with 3, 100, 102, 103
    val q = df(3L -> vec(4), 1000L -> vec(4), 1001L -> vec(50), 5L -> vec(6))
    val allowed = ((0L until 40L by 2) ++ Seq(3L, 100L, 101L, 103L))
      .toDF("vec_id")
    val nAllowed = allowed.count()
    val corpusRows = IvfPqIndex.readIndex(spark, idx).count()

    def check(k: Int, nprobe: Int): Seq[(Long, Long, Long, Long)] = {
      def ref(np: Int, a: Option[(DataFrame, Long)]) = rowsOf(windowTopK(
        IvfPqIndex.scoredCandidates(spark, idx, q, np, a), k))
      val plain = rowsOf(IvfPqIndex.search(spark, idx, q, k, nprobe))
      assert(plain == ref(nprobe, None), s"search k=$k nprobe=$nprobe")
      assert(rowsOf(IvfPqIndex.searchFiltered(spark, idx, q, allowed, k,
          nprobe)) == ref(nprobe, Some((allowed, nAllowed))),
        s"searchFiltered k=$k nprobe=$nprobe")
      val np = IvfPqIndex.adaptiveNprobe(nprobe, nAllowed, corpusRows)
      assert(rowsOf(IvfPqIndex.searchFilteredAdaptive(spark, idx, q,
          allowed, k, nprobe)) == ref(np, Some((allowed, nAllowed))),
        s"searchFilteredAdaptive k=$k nprobe=$nprobe")
      plain
    }
    val top5 = check(k = 5, nprobe = 2)
    // the fixture exercises what it claims
    val of1000 = top5.filter(_._1 == 1000L)
    assert(of1000.take(3).map(_._2) == Seq(3L, 100L, 102L) &&
      of1000.take(3).map(_._3).distinct.size == 1, s"ties: $of1000")
    assert(!top5.exists(r => r._1 == r._2), "a query served its own id")
    assert(!top5.exists(r => r._2 == 101L || r._2 == 7L),
      "a tombstoned id was served")
    // k far above a probed cell's population: every candidate comes back
    val all1 = check(k = 60, nprobe = 1)
    assert(all1.groupBy(_._1).values.forall(_.size < 60))
    check(k = 3, nprobe = 8)

    val schemaOf = (d: DataFrame) => d.schema.map(f => f.name -> f.dataType)
    assert(schemaOf(IvfPqIndex.search(spark, idx, q, 5, 2)) ==
      schemaOf(windowTopK(
        IvfPqIndex.scoredCandidates(spark, idx, q, 2, None), 5)))

    val empty = Files.createTempDirectory("ivfpq-noadds").toString + "/index"
    IvfPqIndex.create(spark, empty, c)
    assert(IvfPqIndex.search(spark, empty, q, k = 5).collect().isEmpty)
    assert(IvfPqIndex.searchFiltered(spark, empty, q, allowed, k = 5)
      .collect().isEmpty)
  }

  /** Spark jobs started by `body`, counted by a listener; a fenced job
    * after the body guarantees the listener has seen every event. */
  private def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "ivfpq-guard"
    val fence = "ivfpq-guard-fence"
    val started = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet(): Unit
          case Some(`fence`) => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener fence timed out")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  test("a warmed search is one fused scan: at most 2 Spark jobs, the " +
      "cell partition filter on the file scan, and no broadcast hash " +
      "join, window or range exchange in the executed plan") {
    val idx = Files.createTempDirectory("ivfpq-guard").toString + "/index"
    val c = corpus(40)
    IvfPqIndex.create(spark, idx, c)
    IvfPqIndex.add(spark, idx, c, runId = 0L)
    val q = df(1000L -> vec(6), 1001L -> vec(9))
    IvfPqIndex.search(spark, idx, q, k = 3).collect()
    var served: DataFrame = null
    val jobs = jobsRunBy {
      served = IvfPqIndex.search(spark, idx, q, k = 3)
      assert(served.collect().length == 6)
    }
    assert(jobs <= 2, s"search ran $jobs Spark jobs")
    val plan = served.queryExecution.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.exists(_.partitionFilters.exists(
        _.references.exists(_.name == "cell"))),
      s"no cell partition filter on the code scan:\n$plan")
    assert(collect(plan) {
      case j: BroadcastHashJoinExec => j
      case w: WindowExec => w
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.isEmpty, s"relational serve operators in the plan:\n$plan")
  }
}

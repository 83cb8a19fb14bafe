package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ext.{Ivm, MergeTable}
import graft.ingest._

/** The `graft-repos` keyset walk over the generated JSON-lines fixture,
  * with no page delay and a request budget far above any run's page
  * count. One list request per walk, like `DataFrameRepoSource`. */
final class ListSource(fixture: String, val pageSize: Int) extends RepoSource {
  private var walks = 0L
  def fetch(spark: SparkSession, since: Long, limit: Int): DataFrame = {
    walks += 1
    spark.read.format("graft-repos")
      .option("path", fixture)
      .option("pageSize", pageSize.toString)
      .option("pageDelayMs", "0")
      .option("requestBudget", ListSource.RequestBudget.toString)
      .load()
      .filter(col("id") > since)
      .limit(limit)
  }
  override def apiCalls: Long = walks
}

object ListSource {
  val RequestBudget = 100000
}

/** Opens the `ingest.fetch` span around the cached detail source. */
final class TracedSource(inner: RepoSource, tr: Tracer) extends RepoSource {
  def fetch(spark: SparkSession, since: Long, limit: Int): DataFrame =
    tr.span("ingest.fetch")(inner.fetch(spark, since, limit))
  override def failedCount: Long = inner.failedCount
  override def apiCalls: Long = inner.apiCalls
  override def cacheHits: Long = inner.cacheHits
}

/** The fake detail API: answers each id with the generator's record,
  * or None for a planted 404. Counts requests when traced. */
final class FakeDetailApi(seed: Long, initialRows: Int, batchRows: Int,
    traced: Boolean) extends DetailEnricher.DetailClientFactory {
  def apply(): DetailEnricher.DetailClient = new DetailEnricher.DetailClient {
    private val gen = new RepoGen(seed, initialRows, batchRows, 0)
    def fetchDetail(id: Long, ownerLogin: String,
        name: String): Option[String] = {
      val t0 = System.nanoTime()
      val r = if (gen.is404(id)) None else Some(gen.repo(id).detailJson)
      if (traced) {
        TaskCounters.detailRequests.incrementAndGet()
        if (r.isEmpty) TaskCounters.detailFailures.incrementAndGet()
        TaskCounters.detailBusyNs.addAndGet(System.nanoTime() - t0)
      }
      r
    }
  }
}

/** The ingestion pipeline under test, end to end: keyset list walk →
  * bronze read-through with detail fetch → flatten/validate/sink with
  * cursor commit → MergeTable upsert → changefeed publish → IVM drain of
  * a per-language count + sum(stars) view. */
final class IngestRig(spark: SparkSession, tr: Tracer, seed: Long,
    dir: String, val gen: RepoGen, capacity: Int) {
  import IngestRig._

  private val fixture = s"$dir/source/list.jsonl"
  private val bronze = s"$dir/bronze"
  private val sink = s"$dir/sink"
  private val quarantine = s"$dir/quarantine"
  private val table = s"$dir/table"
  private val feed = s"$dir/feed"
  private val view = s"$dir/view"
  val state = new RepoState(gen, seed)
  private val flatCols = RepoSchema.flat.fieldNames.toSeq
  private val publisher = new FileCursorStore(s"$dir/state/publisher")
  private val viewCursor = new FileCursorStore(s"$dir/state/view")
  private val listCursor = s"$dir/state/list"
  private val list = new ListSource(fixture, 100)
  private val runner = new IncrementalRunner(spark,
    new TracedSource(new CachedDetailRepoSource(list, bronze,
      new FakeDetailApi(seed, gen.initialRows, gen.batchRows, tr.enabled)),
      tr),
    listCursor, _ => None)

  var batches = 0
  var inputBytes = 0L
  var expectedQuarantined = 0L
  /** Live files of the table, refreshed after each write (traced). */
  private var liveFiles = 0L

  def dataDirs: Seq[String] = Seq(bronze, sink, quarantine, table, feed, view)

  def setup(): Unit = {
    val init = gen.initialRepos
    state.load(init)
    inputBytes += init.map(_.detailJson.length.toLong).sum
    MergeTable.create(Run.df(spark, init.map(_.toRow), RepoSchema.flat),
      table, "id", BucketHexDigits)
    val seeded = (0 until capacity).flatMap(gen.batchIds)
      .filter(gen.inBronze).map(id => gen.repo(id).detailJson)
    inputBytes += seeded.map(_.length.toLong).sum
    spark.read.schema(RepoSchema.raw)
      .json(spark.createDataset(seeded)(Encoders.STRING))
      .write.parquet(bronze)
    new FileCursorStore(listCursor).commit(gen.idAt(gen.initialRows - 1))
    Files.createDirectories(Paths.get(fixture).getParent)
    Files.write(Paths.get(fixture), Array.emptyByteArray)
    ChangefeedRunner.runOnce(spark, table, feed, publisher)
    Ivm.init(MergeTable.readTable(spark, table, Some(1L)).select(
      flatCols.map(col): _*), view, Seq("language"),
      Seq("stargazers_count"), Nil)
    viewCursor.commit(1L)
    refreshLiveFiles()
  }

  def exhausted: Boolean = batches >= capacity

  /** One micro-batch as one write op; freshness runs from the moment the
    * batch's list rows and refreshes exist at the source until the
    * table and the view both hold them. */
  def write(run: Run): Unit = run.op("write") {
    val i = batches
    batches += 1
    val ids = gen.batchIds(i)
    val repos = ids.filterNot(gen.is404).map(gen.repo)
    Run.appendLines(fixture, ids.map(id => gen.repo(id).summaryJson))
    val refresh = state.refreshes(i)
    val ((m, stats, published), secs) = run.timed("op.write") {
      val m = tr.span("ingest.run_once")(runner.runOnce(
        s"$sink/batch=$i", s"$quarantine/batch=$i", gen.batchRows)).head()
      val valid = spark.read.schema(RepoSchema.flat).json(s"$sink/batch=$i")
        .select(flatCols.map(col): _*)
      val updates = valid.unionByName(
        Run.df(spark, refresh.map(_.toRow), RepoSchema.flat))
      val before = MergeTable.versions(spark, table).last
      val stats = tr.span("merge_table.upsert")(
        MergeTable.upsert(spark, table, updates))
      tr.add("merge_table.commit_retries", stats.version - before - 1)
      val published = tr.span("ingest.changefeed")(
        ChangefeedRunner.runOnce(spark, table, feed, publisher))
      tr.span("ingest.ivm_apply")(IvmRunner.runOnce(spark, feed, view,
        viewCursor, Seq("language"), Seq("stargazers_count"), Nil))
      (m, stats, published)
    }
    val hits = ids.count(gen.inBronze).toLong
    val fails = ids.count(gen.is404).toLong
    val (validRepos, invalidRepos) = repos.partition(_.valid)
    val changed = validRepos.size.toLong + refresh.size
    expectedQuarantined += invalidRepos.size
    val ok = Seq(
      Run.check(s"batch $i processed",
        m.getAs[Long]("total_processed") == repos.size),
      Run.check(s"batch $i valid", m.getAs[Long]("valid_count") == validRepos.size),
      Run.check(s"batch $i invalid",
        m.getAs[Long]("invalid_count") == invalidRepos.size),
      Run.check(s"batch $i 404s", m.getAs[Long]("failed_count") == fails),
      Run.check(s"batch $i bronze hits", m.getAs[Long]("cache_hits") == hits),
      Run.check(s"batch $i requests",
        m.getAs[Long]("api_calls") == ids.size - hits + 1),
      Run.check(s"batch $i cursor",
        m.getAs[Long]("last_repo_id") == repos.map(_.id).max),
      Run.check(s"batch $i inserted", stats.rowsInserted == validRepos.size),
      Run.check(s"batch $i matched", stats.rowsMatched == refresh.size),
      Run.check(s"batch $i changefeed",
        published.exists(_.rows == changed))).forall(identity)
    validRepos.foreach(state.put)
    refresh.foreach(state.put)
    inputBytes += repos.filterNot(r => gen.inBronze(r.id))
      .map(_.detailJson.length.toLong).sum +
      refresh.map(_.detailJson.length.toLong).sum
    run.freshness.add(secs)
    run.writeRows += changed
    if (tr.enabled) {
      tr.add("ingest.valid_rows", m.getAs[Long]("valid_count"))
      tr.add("ingest.invalid_rows", m.getAs[Long]("invalid_count"))
      tr.add("ingest.bronze_hits", hits)
      tr.add("ingest.bronze_requested", ids.size)
      tr.add("sources.list_pages", math.ceil(ids.size / list.pageSize.toDouble))
      val (files, bytes) = Run.usage(s"$sink/batch=$i")
      tr.add("ingest.sink_files_written", files)
      tr.add("ingest.sink_bytes", bytes)
      tr.add("ingest.changefeed_rows", published.fold(0L)(_.rows).toDouble)
      tr.add("merge_table.buckets_rewritten", stats.bucketsRewritten)
      tr.add("merge_table.files_read", stats.filesRead)
      tr.add("merge_table.files_written", stats.filesWritten)
      tr.add("merge_table.rows_matched", stats.rowsMatched)
      tr.add("merge_table.rows_inserted", stats.rowsInserted)
      tr.add("ingest.write_ops", 1)
      refreshLiveFiles()
    }
    ok
  }

  /** `MergeTable.maintain` as an op of its own, the way a deployment
    * schedules it beside ingestion. */
  def maintain(run: Run): Unit = run.op("maintain") {
    val files0 = if (tr.enabled) Run.usage(s"$table/data")._1 else 0L
    run.timed("op.maintain")(
      tr.span("merge_table.maintain")(MergeTable.maintain(spark, table)))
    if (tr.enabled) {
      tr.add("merge_table.maintain_runs", 1)
      tr.add("merge_table.maintain_files_written",
        Run.usage(s"$table/data")._1 - files0)
      refreshLiveFiles()
    }
    true
  }

  private def refreshLiveFiles(): Unit =
    if (tr.enabled) {
      val d = MergeTable.detail(spark, table).head()
      liveFiles = d.getAs[Long]("files")
      tr.set("merge_table.live_files", liveFiles)
      tr.set("merge_table.versions", d.getAs[Long]("versions_retained"))
    }

  private val selectCols = flatCols.mkString(", ")

  /** Point lookup through SQL over `merge_table(...)`; planning (analysis
    * through the physical plan) is forced and timed apart from
    * execution. */
  def lookup(id: Long): Array[Row] = {
    val df = tr.span("plans.plan") {
      val d = spark.sql(
        s"SELECT $selectCols FROM merge_table('$table') WHERE id = $id")
      d.queryExecution.executedPlan
      d
    }
    val rows = tr.span("plans.lookup")(df.collect())
    if (tr.enabled) {
      val (files, scanned) = ScanMetrics.of(df)
      tr.add("plans.planned", 1)
      tr.add("plans.lookups", 1)
      tr.add("plans.lookup_files_scanned", files)
      tr.add("plans.lookup_live_files", liveFiles)
      tr.add("plans.rows_scanned", scanned)
      tr.add("plans.rows_returned", rows.length)
    }
    rows
  }

  /** Runs an analytics query as direct SQL over the table. */
  def sql(query: String): Array[Row] = {
    val df = tr.span("plans.plan") {
      val d = spark.sql(query.replace("$T", s"merge_table('$table')"))
      d.queryExecution.executedPlan
      d
    }
    val rows = tr.span("plans.query")(df.collect())
    if (tr.enabled) {
      val (_, scanned) = ScanMetrics.of(df)
      tr.add("plans.planned", 1)
      tr.add("plans.queries", 1)
      tr.add("plans.rows_scanned", scanned)
      tr.add("plans.rows_returned", rows.length)
    }
    rows
  }

  /** The maintained view: (language, n, sum, avg). */
  def serveView(): Array[Row] = {
    tr.add("ivm.serves", 1)
    tr.span("ivm.serve")(Ivm.serve(spark, view, Seq("language"),
      Seq("stargazers_count"), Nil, None, Seq("stargazers_count")).collect())
  }

  def lookupMatches(id: Long, rows: Array[Row]): Boolean =
    state.rows.get(id) match {
      case Some(r) => rows.length == 1 && Repo.canonOf(rows(0)) == r.canon
      case None => rows.isEmpty
    }

  def viewMatches(rows: Array[Row]): Boolean =
    rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap ==
      state.byLanguage

  /** Final state: the table equals the expected latest state per id
    * (row count + order-independent checksum), and the quarantine,
    * cursors and view hold the planted values. */
  def verify(): Boolean = {
    val rows = MergeTable.readTable(spark, table).select(flatCols.map(col): _*)
      .collect()
    val quarantined =
      if (batches == 0) 0L else spark.read.json(quarantine).count()
    val lastListed = gen.batchIds(batches - 1).last
    Seq(
      Run.check("table row count", rows.length == state.rows.size),
      Run.check("table checksum",
        Repo.checksum(rows.iterator.map(Repo.canonOf)) ==
          Repo.checksum(state.rows.valuesIterator.map(_.canon))),
      Run.check("quarantine count", quarantined == expectedQuarantined),
      Run.check("list cursor",
        new FileCursorStore(listCursor).read().contains(lastListed)),
      Run.check("publisher cursor", publisher.read().contains(
        MergeTable.versions(spark, table).last)),
      Run.check("view", viewMatches(serveView()))).forall(identity)
  }

  /** Keeps only the table's latest version and drops changefeed batches
    * the view has consumed. Single writer, so no grace period. */
  def retention(): Unit = {
    MergeTable.vacuum(spark, table, retainVersions = 1, minFileAgeMs = 0L)
    viewCursor.read().foreach(ChangefeedRunner.pruneSink(spark, feed, _))
  }

  def layerCounters(): Unit = {
    tr.set("sources.detail_requests", TaskCounters.detailRequests.get)
    tr.set("sources.detail_failures", TaskCounters.detailFailures.get)
    tr.set("sources.detail_busy_s", TaskCounters.detailBusyNs.get / 1e9)
  }
}

object IngestRig {
  /** 16 hash buckets: MergeTable's bucket width is sized to the table,
    * and the default 256 buckets would hold ~20 rows each at this size. */
  val BucketHexDigits = 1
  /** Assumed: the rows the table holds before the run. */
  val InitialRows = 4000
  /** The reference's default run: MAX_REQUESTS_PER_RUN - 1 = 59 detail
    * fetches behind one list page, unauthenticated. */
  val BatchRows = 59
  /** Assumed: 1 in 5 rows of a batch re-ingests an earlier id whose
    * stars or language changed. */
  val RefreshRows = 12
}

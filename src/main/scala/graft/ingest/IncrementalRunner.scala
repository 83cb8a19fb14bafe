package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source abstraction for the paginated keyset scan (S1) + per-key detail
  * fetch (S2). The live GitHub REST implementation is unreachable in this
  * environment (and in tests) — implementations are file/DataFrame-backed
  * fakes shaped exactly like the API (FIXTURES.md §A). A DataSourceV2
  * REST connector with SupportsPushDownLimit is the production drop-in
  * (SURVEY.md §7.3); the contract here is the same: ids strictly greater
  * than `since`, ascending, at most `limit` rows.
  */
trait RepoSource {
  /** Keyset page: raw detail records with id > since, ascending, ≤ limit
    * rows. The limit is pushed into the source — the moral equivalent of
    * the reference slicing the list BEFORE the expensive detail fetch
    * (reference src/extract_github_data.py:630,662). */
  def fetch(spark: SparkSession, since: Long, limit: Int): DataFrame

  /** Cumulative records the source failed to fetch (404/403 analogs,
    * reference src/extract_github_data.py:480-491) — counted, never
    * fatal; the runner reports per-run deltas. */
  def failedCount: Long = 0L

  /** Cumulative external requests made (reference api_calls counter,
    * src/extract_github_data.py:737); the runner reports per-run deltas. */
  def apiCalls: Long = 0L

  /** Cumulative records served from cache instead of the network
    * (reference cache_hits counter, :739). */
  def cacheHits: Long = 0L

  /** The largest id the latest [[fetch]]'s list page consumed, when the
    * source knows it. It can lie beyond the largest id `fetch` returned:
    * an id whose detail fetch failed is listed but not returned. */
  def lastListedId: Option[Long] = None
}

/** A RepoSource over a fixed raw DataFrame (tests) or JSON path;
  * `simulatedFailures` records are charged as failed on every fetch. */
final class DataFrameRepoSource(data: DataFrame,
    simulatedFailures: Long = 0L) extends RepoSource {
  private var calls = 0L
  def fetch(spark: SparkSession, since: Long, limit: Int): DataFrame = {
    calls += 1 // one list request per keyset page walk
    data.filter(col("id") > since).orderBy("id").limit(limit)
  }
  override def apiCalls: Long = calls
  override def failedCount: Long = calls * simulatedFailures
}

/** S1→S3→S2→S4 composed: a keyset list page, served through the bronze
  * read-through cache, with per-key detail fetch only for the misses —
  * the full reference flow (list :394-435, cache check :293-344, detail
  * fetch :438-491) as one source. api_calls counts the list page plus one
  * detail request per cache miss; cache_hits counts records served from
  * bronze; detail-fetch failures flow from the enricher's accumulator. */
final class CachedDetailRepoSource(
    list: RepoSource, bronzeDir: String,
    clientFactory: DetailEnricher.DetailClientFactory) extends RepoSource {

  private var calls = 0L
  private var hits = 0L
  private var failures = 0L
  private var listed = Option.empty[Long]

  def fetch(spark: SparkSession, since: Long, limit: Int): DataFrame = {
    var acc: Option[org.apache.spark.util.LongAccumulator] = None
    val (batch, nHits, nMisses, last) = BronzeCache.readThrough(spark,
      bronzeDir, RepoSchema.raw, list.fetch(spark, since, limit),
      missKeys => {
        val (enriched, failedAcc) = DetailEnricher.enrich(missKeys, clientFactory)
        acc = Some(failedAcc)
        DetailEnricher.details(enriched)
      })
    // readThrough collected the fetched details (the one executed pass
    // over the enrichment plan) before returning, so the accumulator has
    // settled
    calls += nMisses // one detail request per cache miss
    hits += nHits
    failures += acc.fold(0L)(_.value)
    listed = last
    batch
  }

  /** list pages are counted by the wrapped list source itself. */
  override def apiCalls: Long = calls + list.apiCalls
  override def cacheHits: Long = hits
  override def failedCount: Long = failures
  override def lastListedId: Option[Long] = listed
}

/** Incremental micro-batch runner — the engine form of
  * extract_repositories (reference src/extract_github_data.py:607-762)
  * with one deliberate semantic fix: the cursor commits AFTER the sink
  * succeeds (the reference commits per-record at :714 but uploads once at
  * :746, so a mid-run crash silently loses records; SURVEY.md §2.3
  * "delivery semantics"). Batch+cursor here is the same shape Structured
  * Streaming gives via checkpointed offsets; graft.streaming holds the
  * streaming twin.
  */
final class IncrementalRunner(spark: SparkSession, source: RepoSource,
    stateDir: String, env: String => Option[String] = sys.env.get,
    store: Option[CursorStore] = None) {

  /** Env-var cursor backend name (reference LAST_REPO_ID env fallback,
    * src/extract_github_data.py:190-194). */
  val cursorEnvVar: String = IncrementalRunner.CursorEnvVar

  /** S5/S6 backend: file → env seed by default (reference
    * src/extract_github_data.py:164-235); remote-KV deployments inject a
    * chain with a KVCursorStore at the head (see CursorStore). */
  private val cursorStore: CursorStore =
    store.getOrElse(CursorStore.default(stateDir, env))

  /** S5 state read: first backend in the chain with a value, else 0. */
  def cursor: Long = cursorStore.read().getOrElse(0L)

  /** S6 state commit — atomic in every backend (file: temp + move; KV:
    * atomic whole-value put), so a crash never leaves a torn cursor. */
  private def commitCursor(id: Long): Unit = cursorStore.commit(id)

  /** One micro-batch: fetch (limit pushed down) → flatten → validate →
    * sink valid + quarantine invalid → metrics → commit cursor last.
    * The batch holds at most `budget` rows (the reference's per-run
    * request cap), so it is validated once and collected; the sinks and
    * the envelope are written from that one driver-side copy, each from
    * one partition, and the source's lineage is never re-run. The
    * cursor moves to the last id the list page consumed
    * ([[RepoSource.lastListedId]]), so ids whose detail fetch failed
    * are not listed again and a page of failures still advances it; the
    * envelope's `last_repo_id` stays the largest id that came back.
    * Returns the one-row metrics DataFrame, the same row the envelope
    * holds: sink IO has completed and the cursor has moved when it
    * returns. */
  def runOnce(sinkDir: String, quarantineDir: String, budget: Int,
      testMode: Boolean = false): DataFrame = {
    val t0 = System.nanoTime()
    val since = cursor
    val (api0, hits0, failed0) =
      (source.apiCalls, source.cacheHits, source.failedCount)
    val validated = IngestPipeline.withValidation(
      IngestPipeline.flatten(source.fetch(spark, since, budget)))
    val rows = validated.collect().toSeq
    val (valid, invalid) =
      IngestPipeline.split(IngestPipeline.local(spark, rows, validated.schema))
    // ---- sink first (both streams), commit cursor only afterwards ----
    IngestPipeline.writePartitioned(valid, sinkDir)
    invalid.write.mode("append").json(quarantineDir)
    val m = IngestPipeline.metrics(rows, since,
      source.failedCount - failed0,
      source.apiCalls - api0, source.cacheHits - hits0,
      testMode, (System.nanoTime() - t0) / 1e9,
      java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
    val envelope =
      spark.createDataFrame(java.util.List.of(m), RepoSchema.metrics)
    // persist the run envelope at a SIBLING path (inside the sink it
    // would collide with Hive partition discovery) — still BEFORE the
    // cursor commit, so metadata can never claim a batch the cursor
    // doesn't cover (reference metadata block,
    // src/extract_github_data.py:730-742)
    envelope.write.mode("append").json(s"${sinkDir.stripSuffix("/")}_metadata")
    val consumed = source.lastListedId
      .foldLeft(m.getAs[Long]("last_repo_id"))(math.max)
    if (consumed > since) commitCursor(consumed)
    envelope
  }
}

object IncrementalRunner {
  /** Env-var cursor seed (reference LAST_REPO_ID, :190-194). */
  val CursorEnvVar = "GRAFT_LAST_REPO_ID"
}

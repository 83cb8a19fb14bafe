package graft.ingest

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.LongAccumulator
import graft.{SparkJobs, SparkSpec}
import CacheAndEnrichSpec._

class CacheAndEnrichSpec extends SparkSpec {

  private def keyDf(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.toDF("id")
  }

  // counts how many times the expensive fetch actually ran
  private val fetchCalls = new AtomicInteger(0)

  private val payloadSchema = StructType(Seq(
    StructField("id", LongType), StructField("payload", StringType)))

  private def fakeFetch(misses: DataFrame): DataFrame = {
    fetchCalls.incrementAndGet()
    misses.select(col("id"), concat(lit("payload-"), col("id")).as("payload"))
  }

  test("bronze read-through: first run fetches all, second run hits cache") {
    val bronze = Files.createTempDirectory("bronze").toString
    fetchCalls.set(0)

    val (batch1, hits1, miss1, _) =
      BronzeCache.readThrough(spark, bronze, payloadSchema, keyDf(1, 2, 3),
        fakeFetch)
    assert(batch1.count() == 3 && hits1 == 0 && miss1 == 3)

    // overlapping request: only id 4 should be fetched
    val (batch2, hits2, miss2, _) =
      BronzeCache.readThrough(spark, bronze, payloadSchema, keyDf(2, 3, 4),
        fakeFetch)
    assert(batch2.count() == 3 && hits2 == 2 && miss2 == 1)
    assert(batch2.filter("id = 2").count() == 1)

    // fully-cached request: the fetch function must not run at all
    val before = fetchCalls.get()
    val (batch3, hits3, miss3, _) =
      BronzeCache.readThrough(spark, bronze, payloadSchema, keyDf(1, 4),
        fakeFetch)
    assert(batch3.count() == 2 && hits3 == 2 && miss3 == 0)
    assert(fetchCalls.get() == before)
  }

  private def summaries(ids: Long*): DataFrame = {
    val rows = ids.map(i =>
      Row(Long.box(i), s"repo-$i",
        Row(s"u$i", Long.box(i + 1000), "User", "a", "h")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("owner", RepoSchema.owner)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private val FakeClientFactory = new FakeClients()

  test("detail enrichment fetches per partition, counts failures, never fails the job") {
    val (enriched, failedAcc) =
      DetailEnricher.enrich(summaries(1L to 10L: _*), FakeClientFactory)
    val details = DetailEnricher.details(enriched)
    val got = details.collect()
    // ids 3, 6, 9 failed (404 analog) -> 7 successes
    assert(got.length == 7)
    assert(failedAcc.value == 3L)
    assert(got.map(_.getAs[Long]("id")).toSet == Set(1L, 2L, 4L, 5L, 7L, 8L, 10L))
    // the enriched detail is a full raw record usable by the flatten stage
    val flat = IngestPipeline.flatten(details)
    assert(flat.filter("owner_login = 'u1'").count() == 1)
  }

  test("cached detail source wires api_calls/cache_hits into the envelope") {
    val bronze = Files.createTempDirectory("bronze").toString
    val src = new CachedDetailRepoSource(
      new DataFrameRepoSource(summaries(1L to 10L: _*)), bronze,
      FakeClientFactory)
    val runner = new IncrementalRunner(spark, src,
      Files.createTempDirectory("state").toString)
    val m1 = runner.runOnce(Files.createTempDirectory("sink").toString,
      Files.createTempDirectory("q").toString, budget = 10).collect()(0)
    // run 1: 1 list page + 10 detail fetches (all miss), ids 3/6/9 404
    assert(m1.getAs[Long]("api_calls") == 11L)
    assert(m1.getAs[Long]("cache_hits") == 0L)
    assert(m1.getAs[Long]("failed_count") == 3L)
    assert(m1.getAs[Long]("total_processed") == 7L)

    // fresh cursor, same bronze: the 7 cached details are hits; only the
    // previously-failed ids are re-fetched (and fail again)
    val runner2 = new IncrementalRunner(spark, src,
      Files.createTempDirectory("state2").toString)
    val m2 = runner2.runOnce(Files.createTempDirectory("sink2").toString,
      Files.createTempDirectory("q2").toString, budget = 10).collect()(0)
    assert(m2.getAs[Long]("cache_hits") == 7L)
    assert(m2.getAs[Long]("api_calls") == 1L + 3L)
    assert(m2.getAs[Long]("failed_count") == 3L)
    assert(m2.getAs[Long]("total_processed") == 7L)
  }

  test("runner persists the metadata envelope next to the sink") {
    val state = Files.createTempDirectory("state").toString
    val sink = Files.createTempDirectory("sink").toString
    val raw = summaries(1L, 2L) // reuse summary schema? need raw schema; build via enrich
    val (enriched, _) = DetailEnricher.enrich(raw, FakeClientFactory)
    val runner = new IncrementalRunner(spark,
      new DataFrameRepoSource(DetailEnricher.details(enriched)), state)
    val m = runner.runOnce(sink, Files.createTempDirectory("q").toString,
      budget = 10).collect()(0)
    val meta = spark.read.schema(RepoSchema.metrics)
      .json(s"${sink}_metadata").collect()
    // the envelope on disk is the row the runner returned, field for field
    assert(meta.length == 1)
    assert(RepoSchema.metrics.fieldNames.length == 11)
    for (f <- RepoSchema.metrics.fieldNames)
      assert(meta(0).getAs[Any](f) == m.getAs[Any](f), f)
    assert(meta(0).getAs[Long]("last_repo_id") == 2L)
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Writes the fake API's records for `ids` to bronze directly, 404s
    * included, as if an earlier run had fetched them. */
  private def seedBronze(dir: String, ids: Seq[Long]): Unit =
    spark.read.schema(RepoSchema.raw)
      .json(spark.createDataset(ids.map(i =>
        detailJson(i, s"u$i", s"repo-$i", "Scala", 6)))(Encoders.STRING))
      .write.mode("append").parquet(dir)

  private def files(dir: String, suffix: String): Int =
    Option(new java.io.File(dir).listFiles()).fold(0)(
      _.count(f => f.getName.startsWith("part-") && f.getName.endsWith(suffix)))

  test("runOnce evaluates the list page once: every listed row is " +
      "produced once") {
    val bronze = tmp("bronze")
    seedBronze(bronze, Seq(2L, 4L))
    val list = new CountingListSource(summaries(1L to 10L: _*))
    val runner = new IncrementalRunner(spark,
      new CachedDetailRepoSource(list, bronze, FakeClientFactory),
      tmp("state"))
    val m = runner.runOnce(tmp("sink"), tmp("q"), budget = 8).collect()(0)
    assert(m.getAs[Long]("cache_hits") == 2L)
    assert(m.getAs[Long]("api_calls") == 1L + 6L)
    assert(list.produced.value == 8L)
  }

  test("a warmed runOnce through the bronze cache runs at most 8 Spark " +
      "jobs (6 when every id hits) and writes each output from one task") {
    val bronze = tmp("bronze")
    seedBronze(bronze, (21L to 25L) ++ (30L to 39L))
    val runner = new IncrementalRunner(spark,
      new CachedDetailRepoSource(
        new DataFrameRepoSource(summaries(1L to 40L: _*)), bronze,
        new FakeClients(noLanguage = Set(13L), spreadDays = true)),
      tmp("state"))
    runner.runOnce(tmp("sink"), tmp("q"), budget = 10): Unit // warm

    // ids 11..29: hits 21..25, 404s 12/15/18/27, id 13 invalid
    val (sink, q) = (tmp("sink"), tmp("q"))
    val bronzeFiles = files(bronze, ".parquet")
    var m: Row = null
    val jobs = SparkJobs.during(spark) {
      m = runner.runOnce(sink, q, budget = 19).collect()(0)
    }
    assert(jobs <= 8, s"runOnce ran $jobs Spark jobs")
    assert(m.getAs[Long]("cache_hits") == 5L)
    assert(m.getAs[Long]("failed_count") == 4L)
    assert(m.getAs[Long]("api_calls") == 1L + 14L)
    assert(m.getAs[Long]("valid_count") == 14L)
    assert(m.getAs[Long]("invalid_count") == 1L)
    assert(files(bronze, ".parquet") == bronzeFiles + 1)
    for (day <- Seq(6, 7))
      assert(files(s"$sink/year=2024/month=3/day=$day", ".json") == 1, day)
    assert(files(q, ".json") == 1)
    assert(files(s"${sink}_metadata", ".json") == 1)

    // ids 30..39: all served from bronze, nothing fetched or appended
    val hitJobs = SparkJobs.during(spark) {
      m = runner.runOnce(tmp("sink"), tmp("q"), budget = 10).collect()(0)
    }
    assert(hitJobs <= 6, s"all-hit runOnce ran $hitJobs Spark jobs")
    assert(m.getAs[Long]("cache_hits") == 10L)
    assert(m.getAs[Long]("api_calls") == 1L)
    assert(files(bronze, ".parquet") == bronzeFiles + 1)
    assert(runner.cursor == 39L)
  }

  test("the keyset cursor moves past failed detail fetches: over random " +
      "404 placements, an all-404 page included, every listed id is " +
      "fetched once, none that resolves is lost, and every run " +
      "advances the cursor") {
    val rnd = new scala.util.Random(7)
    // (ids 1..n, 404'd ids, budget); the first case's second page
    // (ids 4..6) is all 404s and its last page ends on one
    val cases = (12L, Set(4L, 5L, 6L, 12L), 3) +: Seq.fill(6) {
      val n = 6L + rnd.nextInt(8)
      (n, (1L to n).filter(_ => rnd.nextInt(3) == 0).toSet,
        1 + rnd.nextInt(4))
    }
    for ((n, missing, budget) <- cases) {
      val asked = spark.sparkContext.collectionAccumulator[Long]("asked")
      val runner = new IncrementalRunner(spark,
        new CachedDetailRepoSource(
          new DataFrameRepoSource(summaries(1L to n: _*)), tmp("bronze"),
          new RecordingClients(missing, asked)),
        tmp("state"), _ => None)
      val sink = tmp("sink")
      var runs = 0
      while (runner.cursor < n && runs <= n) {
        val before = runner.cursor
        runner.runOnce(sink, tmp("q"), budget): Unit
        runs += 1
        assert(runner.cursor > before,
          s"case ($n, $missing, $budget): run $runs left the cursor at " +
            before)
      }
      val fetched = asked.value.asScala.toSeq
      assert(fetched.sorted === (1L to n),
        s"case ($n, $missing, $budget): each listed id is fetched once")
      val landed = spark.read.schema("id long").json(sink)
        .collect().map(_.getLong(0)).toSet
      assert(landed === (1L to n).toSet -- missing,
        s"case ($n, $missing, $budget): every resolving id lands")
    }
  }
}

object CacheAndEnrichSpec {
  /** A list source whose page frame counts, through an accumulator, each
    * row it produces every time the frame is evaluated. */
  final class CountingListSource(rows: DataFrame) extends RepoSource {
    val produced: LongAccumulator =
      rows.sparkSession.sparkContext.longAccumulator("listed_rows")
    private var calls = 0L
    def fetch(spark: SparkSession, since: Long, limit: Int): DataFrame = {
      calls += 1
      val page = rows.collect().filter(_.getAs[Long]("id") > since)
        .sortBy(_.getAs[Long]("id")).take(limit).toSeq
      val acc = produced
      spark.createDataFrame(spark.sparkContext.parallelize(page, 1)
        .map { r => acc.add(1L); r }, rows.schema)
    }
    override def apiCalls: Long = calls
  }

  /** One fake detail record; a null `language` makes it invalid. */
  def detailJson(id: Long, owner: String, name: String, language: String,
      day: Int): String =
    s"""{"id": $id, "name": "$name", "full_name": "$owner/$name",
       | "html_url": "https://x/$id", "description": "d",
       | "stargazers_count": ${id * 2},
       | "language": ${Option(language).fold("null")(l => "\"" + l + "\"")},
       | "created_at": "2024-03-05T10:00:00Z",
       | "updated_at": "2024-03-0${day}T11:30:00Z",
       | "owner": {"login": "$owner", "id": ${id + 1000},
       |  "type": "User", "avatar_url": "a", "html_url": "h"}}"""
      .stripMargin.replaceAll("\n", "")

  /** Fake client that 404s the ids in `missing` and records each id it
    * is asked for in `asked`. */
  final class RecordingClients(missing: Set[Long],
      asked: org.apache.spark.util.CollectionAccumulator[Long])
      extends DetailEnricher.DetailClientFactory {
    def apply(): DetailEnricher.DetailClient = new DetailEnricher.DetailClient {
      def fetchDetail(id: Long, owner: String, name: String): Option[String] = {
        asked.add(id)
        if (missing(id)) None
        else Some(detailJson(id, owner, name, "Scala", 6))
      }
    }
  }

  /** Fake client: id % 3 == 0 simulates a 404'd (deleted) repo; ids in
    * `noLanguage` come back without a language, and with `spreadDays`
    * even ids are updated a day later than odd ones. */
  final class FakeClients(noLanguage: Set[Long] = Set.empty,
      spreadDays: Boolean = false) extends DetailEnricher.DetailClientFactory {
    def apply(): DetailEnricher.DetailClient = new DetailEnricher.DetailClient {
      def fetchDetail(id: Long, owner: String, name: String): Option[String] =
        if (id % 3 == 0) None
        else Some(detailJson(id, owner, name,
          if (noLanguage(id)) null else "Scala",
          if (spreadDays && id % 2 == 0) 7 else 6))
    }
  }
}

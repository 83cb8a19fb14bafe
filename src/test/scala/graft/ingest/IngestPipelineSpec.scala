package graft.ingest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.SparkSpec

class IngestPipelineSpec extends SparkSpec {

  private def rawRow(
      id: java.lang.Long = 101L,
      name: String = "repo-a",
      fullName: String = "alice/repo-a",
      htmlUrl: String = "https://github.example/alice/repo-a",
      description: String = "a repo",
      stars: java.lang.Long = 42L,
      language: String = "Scala",
      createdAt: String = "2024-03-05T10:00:00Z",
      updatedAt: String = "2024-03-06T11:30:00Z",
      owner: Row = Row("alice", 7L, "User",
        "https://avatars.example/7", "https://github.example/alice")): Row =
    Row(id, name, fullName, htmlUrl, description, stars, language,
      createdAt, updatedAt, owner)

  private def rawDf(rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), RepoSchema.raw)

  test("flatten produces the 14-column contract with correct types") {
    val flat = IngestPipeline.flatten(rawDf(rawRow()))
    assert(flat.schema.fieldNames.toSeq == RepoSchema.requiredFields)
    assert(flat.schema("created_at").dataType == TimestampType)
    assert(flat.schema("id").dataType == LongType)
    val r = flat.collect()(0)
    assert(r.getAs[String]("owner_login") == "alice")
    assert(r.getAs[Long]("owner_id") == 7L)
    assert(r.getAs[java.sql.Timestamp]("created_at").toInstant ==
      java.time.Instant.parse("2024-03-05T10:00:00Z"))
  }

  test("flatten preserves the owner_url -> owner.html_url quirk") {
    // reference src/extract_github_data.py:523: owner_url is the owner's
    // html_url, not owner.url
    val r = IngestPipeline.flatten(rawDf(rawRow())).collect()(0)
    assert(r.getAs[String]("owner_url") == "https://github.example/alice")
  }

  test("flatten is null-tolerant like dict.get") {
    val r = IngestPipeline
      .flatten(rawDf(rawRow(description = null, owner = null)))
      .collect()(0)
    assert(r.getAs[String]("description") == null)
    assert(r.getAs[String]("owner_login") == null)
  }

  test("validation flags each individually-nulled field by name") {
    val cases: Seq[(Row, String)] = Seq(
      (rawRow(name = null), "name"),
      (rawRow(description = null), "description"),
      (rawRow(language = null), "language"),
      (rawRow(createdAt = null), "created_at"),
      (rawRow(owner = Row(null, 7L, "User", "av", "hu")), "owner_login"))
    for ((row, expectedMissing) <- cases) {
      val v = IngestPipeline
        .withValidation(IngestPipeline.flatten(rawDf(row))).collect()(0)
      assert(!v.getAs[Boolean]("is_valid"))
      assert(v.getSeq[String](v.fieldIndex("missing_fields")) == Seq(expectedMissing))
    }
  }

  test("valid and invalid streams partition the input") {
    val df = rawDf(rawRow(), rawRow(id = 102L, language = null),
      rawRow(id = 103L), rawRow(id = 104L, description = null, name = null))
    val validated = IngestPipeline.withValidation(IngestPipeline.flatten(df))
    val (valid, invalid) = IngestPipeline.split(validated)
    assert(valid.count() + invalid.count() == 4)
    assert(valid.count() == 2)
    // invalid rows report every missing field
    val worst = invalid.filter("id = 104").collect()(0)
    assert(worst.getSeq[String](worst.fieldIndex("missing_fields")).toSet ==
      Set("name", "description"))
  }

  test("metrics row aggregates the run counters") {
    val df = rawDf(rawRow(), rawRow(id = 102L, language = null),
      rawRow(id = 110L))
    val validated = IngestPipeline.withValidation(IngestPipeline.flatten(df))
    val m = IngestPipeline.metrics(validated.collect().toSeq,
      startRepoId = 100L, failedCount = 3L, apiCalls = 7L, cacheHits = 2L,
      testMode = true, durationSeconds = 1.5)
    assert(m.getAs[Long]("start_repo_id") == 100L)
    assert(m.getAs[Long]("last_repo_id") == 110L)
    assert(m.getAs[Long]("total_processed") == 3L)
    assert(m.getAs[Long]("valid_count") == 2L)
    assert(m.getAs[Long]("invalid_count") == 1L)
    assert(m.getAs[Long]("failed_count") == 3L)
    assert(m.getAs[Long]("api_calls") == 7L)
    assert(m.getAs[Long]("cache_hits") == 2L)
    assert(m.getAs[Boolean]("test_mode"))
  }

  test("metrics envelope matches the full 11-field contract schema") {
    val validated = IngestPipeline.withValidation(
      IngestPipeline.flatten(rawDf(rawRow())))
    val m = IngestPipeline.metrics(validated.collect().toSeq, startRepoId = 0L,
      failedCount = 0L, apiCalls = 1L, cacheHits = 0L,
      testMode = false, durationSeconds = 0.1)
    // field names, order, and types all match the reference envelope
    // (reference src/extract_github_data.py:730-742 incl. api_calls and
    // cache_hits at :737-739)
    assert(m.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      RepoSchema.metrics.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(m.schema.fields.length == 11)
  }

  test("date partition derivation is Hive-style and prunable") {
    val df = IngestPipeline.withDatePartitions(
      IngestPipeline.flatten(rawDf(rawRow())), "updated_at")
    val r = df.collect()(0)
    assert(r.getAs[Int]("year") == 2024)
    assert(r.getAs[Int]("month") == 3)
    assert(r.getAs[Int]("day") == 6)
  }

  test("partitioned sink writes year=/month=/day= layout readable back") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val (valid, _) = IngestPipeline.split(
      IngestPipeline.withValidation(IngestPipeline.flatten(rawDf(
        rawRow(), rawRow(id = 102L, updatedAt = "2023-12-31T23:59:59Z")))))
    IngestPipeline.writePartitioned(valid, dir)
    assert(new java.io.File(s"$dir/year=2024/month=3/day=6").exists())
    assert(new java.io.File(s"$dir/year=2023/month=12/day=31").exists())
    val back = spark.read.json(dir)
    assert(back.count() == 2)
    // partition pruning: only one leaf dir feeds a filtered scan
    val pruned = back.filter("year = 2024")
    assert(pruned.count() == 1)
  }
}

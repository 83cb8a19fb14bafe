package graft.ingest

import java.time.{LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's per-record loop (reference src/extract_github_data.py:
  * 677-714) dissolved into a declarative DataFrame chain: flatten (T1) →
  * validate (T2) → partitioned sink (S7), each a pure Catalyst
  * projection/filter — column pruning, predicate pushdown and partition
  * pruning come for free (SURVEY.md §4) — and the run metrics (T5),
  * counted over the batch the runner has already collected.
  */
object IngestPipeline {

  /** T1 nested-flatten projection (reference src/extract_github_data.py:
    * 494-527): hoist owner.* to owner_*; null-tolerant like dict.get.
    * Preserves the reference quirk that owner_url maps to owner.html_url,
    * NOT owner.url (reference src/extract_github_data.py:523). */
  def flatten(raw: DataFrame): DataFrame =
    raw.select(
      col("id").cast("long").as("id"),
      col("name"),
      col("full_name"),
      col("html_url"),
      col("description"),
      col("stargazers_count").cast("long").as("stargazers_count"),
      col("language"),
      to_timestamp(col("created_at")).as("created_at"),
      to_timestamp(col("updated_at")).as("updated_at"),
      col("owner.login").as("owner_login"),
      col("owner.id").cast("long").as("owner_id"),
      col("owner.type").as("owner_type"),
      col("owner.avatar_url").as("owner_avatar_url"),
      col("owner.html_url").as("owner_url"))

  /** T2 NOT-NULL validation with per-row reject reasons (reference
    * src/extract_github_data.py:530-547): adds `missing_fields`
    * (array of column names that are null) and `is_valid`. */
  def withValidation(flat: DataFrame): DataFrame = {
    val missing: Column = filter(
      array(RepoSchema.requiredFields.map(c =>
        when(col(c).isNull, lit(c))): _*),
      x => x.isNotNull)
    flat
      .withColumn("missing_fields", missing)
      .withColumn("is_valid", size(col("missing_fields")) === 0)
  }

  /** Split into (valid, invalid) streams — valid rows drop the
    * diagnostic columns; invalid rows keep them for the quarantine sink. */
  def split(validated: DataFrame): (DataFrame, DataFrame) = (
    validated.filter(col("is_valid")).drop("missing_fields", "is_valid"),
    validated.filter(!col("is_valid")))

  /** T5 run-summary metrics as one row (reference counters at
    * src/extract_github_data.py:670-742), counted on the driver over the
    * collected validated batch. failedCount arrives from the fetch stage
    * (null detail rows), apiCalls/cacheHits from the source's request
    * counters + the bronze read-through (reference :737-739),
    * testMode/duration from the runner; extraction_date is the wall
    * clock in `zone`, the session time zone. */
  def metrics(validated: Seq[Row], startRepoId: Long, failedCount: Long,
      apiCalls: Long, cacheHits: Long,
      testMode: Boolean, durationSeconds: Double,
      zone: ZoneId = ZoneOffset.UTC): Row = {
    val ids = validated.map(_.getAs[Any]("id")).collect { case id: Long => id }
    val validCount = validated.count(_.getAs[Boolean]("is_valid")).toLong
    new GenericRowWithSchema(Array(
      LocalDateTime.now(zone).format(
        DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")),
      startRepoId,
      ids.maxOption.getOrElse(startRepoId),
      validated.size.toLong,
      validCount,
      validated.size - validCount,
      failedCount,
      apiCalls,
      cacheHits,
      testMode,
      durationSeconds), RepoSchema.metrics)
  }

  /** `rows` as a single-partition local relation: one task, so each
    * write of it lands one file per output directory. */
  def local(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)

  /** S7 sink-partition derivation: Hive-style year=/month=/day= columns
    * from a timestamp (replaces the reference's bare yyyy/mm/dd S3 keys,
    * reference src/extract_github_data.py:572-578) so Catalyst partition
    * pruning works on the sink output. */
  def withDatePartitions(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("year", year(col(tsCol)))
      .withColumn("month", month(col(tsCol)))
      .withColumn("day", dayofmonth(col(tsCol)))

  /** Partitioned append of the valid stream — the Spark-native form of
    * upload_to_s3 (reference src/extract_github_data.py:554-600). */
  def writePartitioned(valid: DataFrame, path: String, tsCol: String = "updated_at"): Unit =
    withDatePartitions(valid, tsCol)
      .write.mode("append")
      .partitionBy("year", "month", "day")
      .json(path)
}

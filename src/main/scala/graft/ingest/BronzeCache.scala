package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Read-through bronze layer — the engine form of the reference's
  * response cache (S3/S4, reference src/extract_github_data.py:293-344):
  * raw records persist in a Parquet "bronze" dataset keyed by id; a new
  * batch of requested keys is served from bronze where possible
  * (cache hit ≙ scan elision) and only the misses go to the expensive
  * fetch, whose results are appended for the next run.
  *
  * A run's request set is one keyset page, bounded by the run budget
  * (the reference's MAX_REQUESTS_PER_RUN), so it is collected once and
  * bronze is probed with its ids as one pushed-down `IN` predicate: row
  * group min/max stats skip the files that hold none of them, and the
  * declared schema spares the footer-merge job that schema inference
  * would run. Never a per-key lookup loop like the reference's
  * one-file-per-id cache.
  */
object BronzeCache {

  private def bronzeExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** Serve `requested` (any DataFrame with an `id` column describing the
    * keys wanted this run) through the bronze cache at `bronzeDir`.
    * `requested` is evaluated once, the miss fetch at most once.
    *
    * @param schema    the bronze record schema, id column included
    * @param fetchMiss given the missed subset of `requested`, produce the
    *                  fetched raw records in `schema`'s column order
    * @return (batch, hits, misses, lastListed): the full batch of raw
    *         records for the requested keys as a local relation in id
    *         order, hit/miss counts for run metrics (cache_hits in the
    *         reference's envelope, :739), and the largest requested id
    *         (None for an empty request), which the batch lacks when
    *         that id's fetch failed
    */
  def readThrough(spark: SparkSession, bronzeDir: String, schema: StructType,
      requested: DataFrame, fetchMiss: DataFrame => DataFrame)
      : (DataFrame, Long, Long, Option[Long]) = {
    val keys = requested.collect()
    val ids = keys.map(_.getAs[Long]("id"))
    val hits =
      if (ids.isEmpty || !bronzeExists(spark, bronzeDir)) Array.empty[Row]
      else spark.read.schema(schema).parquet(bronzeDir)
        .filter(col("id").isin(ids: _*)).collect()
    val hitIds = hits.map(_.getAs[Long]("id")).toSet
    val misses = keys.filterNot(k => hitIds(k.getAs[Long]("id")))
    val fetched =
      if (misses.isEmpty) Array.empty[Row]
      else fetchMiss(IngestPipeline.local(spark, misses.toSeq,
        requested.schema)).collect()
    if (fetched.nonEmpty)
      IngestPipeline.local(spark, fetched.toSeq, schema)
        .write.mode("append").parquet(bronzeDir)
    val batch = (hits ++ fetched).sortBy(_.getAs[Long]("id"))
    (spark.createDataFrame(batch.toSeq.asJava, schema), hits.length.toLong,
      misses.length.toLong, ids.maxOption)
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Incremental exact-dedup index — the production form of q30 for the
  * reference's incremental path (SURVEY §2.3: hourly cron, only new
  * records): a 100 TB corpus is never re-deduped per run. Instead the
  * pipeline keeps a FINGERPRINT INDEX (one md5 digest + canonical doc_id
  * per distinct document ever admitted) and each batch of newly crawled
  * documents is admitted by anti-joining the index — cost per run is
  * O(batch + index-probe), not O(corpus).
  *
  * Layout: an append-only parquet table of (fp, canonical_id). Each
  * `admit` call writes exactly the NEW fingerprints, so retries of a
  * failed run re-derive the same rows (content-hash keys are
  * deterministic — re-appending after a partial failure duplicates
  * index rows but never admits a duplicate DOCUMENT, because admission
  * double-checks both the index and the in-batch window; a dup index
  * row only costs probe space and is ignored by the anti-join).
  *
  * Scale shape: the index probe is keyed on the 128-bit digest, never
  * the text; the in-batch dedup is q30's window. A batch already on the
  * driver probes with one `fp IN` scan; any other batch takes a hash
  * anti-join (see [[admit]]). At real scale the index table is bucketed
  * by fp so the probe co-locates without a shuffle of the (much larger)
  * index side.
  */
object DedupIndex {

  /** What one compaction cost: every live data file is read and the
    * rewrite produces `filesWritten` (≤ parallelism, or bucket count)
    * — so compaction is a FULL REWRITE priced at the current index
    * size. That cost model is what an operator sizes `maxIndexFiles`
    * from: with per-batch appends of b files over a compacted base of
    * w files, compaction fires every ceil((maxIndexFiles − w) / b)
    * batches and rewrites ~maxIndexFiles files, so the amortized
    * rewrite amplification per admitted file is
    * maxIndexFiles / (maxIndexFiles − w) — raise the threshold until
    * that ratio (≥ 1) is acceptable against probe-side small-file
    * cost. CompactionCostSpec measures the model on a live stream. */
  final case class CompactionStats(filesRead: Int, filesWritten: Int)

  /** Admit the not-seen-before documents of `batch` against the index at
    * `indexDir`, append their fingerprints, and return the admitted rows
    * (with their `fp`). Duplicate texts WITHIN the batch collapse to the
    * min doc_id, exactly like q30. Its jobs run under the `graft.op`
    * label `dedup.exact_admit`.
    *
    * Scale shape: a batch already on the driver (every leaf of its
    * optimized plan a local relation; see [[DriverBatch]]) takes the
    * driver path. Its md5 fingerprints fold on the driver, the window's
    * min-id collapse runs over O(batch) driver rows, one index scan
    * pre-filtered by `fp IN (batch fps)` returns the known
    * fingerprints, and one append writes one file; no checkpoint, no
    * shuffle. A batch read from files, tables or a stream (the streaming
    * twin's micro-batches, q85, q95, q126) keeps the relational path
    * below: the window and a hash anti-join keyed on the 128-bit digest,
    * one checkpoint, one append per task. */
  def admit(spark: SparkSession, indexDir: String,
      batch: DataFrame): DataFrame =
    graft.core.OpLabel(spark, "dedup.exact_admit") {
      DriverBatch.of(batch) match {
        case Some(local) => admitOnDriver(spark, indexDir, local)
        case None => admitRelational(spark, indexDir, batch)
      }
    }

  private def admitOnDriver(spark: SparkSession, indexDir: String,
      batch: DataFrame): DataFrame = {
    val fingerprinted = batch.withColumn("fp", md5(col("text")))
    val rows = fingerprinted.collect() // a local projection: no job
    val schema = fingerprinted.schema
    val fpAt = schema.fieldIndex("fp")
    val idAt = schema.fieldIndex("doc_id")
    // q30's window: per fp the first row by doc_id, nulls first
    val canonical = rows.indices.groupBy(i => rows(i).getString(fpAt))
      .values.map(_.minBy(i => Option(rows(i).get(idAt))
        .map(_.asInstanceOf[Number].longValue)))
      .toSet
    val fps = canonical.toSeq.flatMap(i => Option(rows(i).getString(fpAt)))
    val known =
      if (fps.isEmpty || !exists(spark, indexDir)) Set.empty[String]
      else readIndex(spark, indexDir).filter(col("fp").isin(fps: _*))
        .select("fp").collect().map(_.getString(0)).toSet
    val admitted = rows.indices.filter(i => canonical(i) &&
      !known(rows(i).getString(fpAt))).map(rows(_))
    if (admitted.nonEmpty)
      DriverBatch.clustered(spark, StructType(Seq(schema(fpAt),
          schema(idAt).copy(name = "canonical_id"))),
        Seq(admitted.map(r => Row(r.get(fpAt), r.get(idAt)))))
        .write.mode("append").parquet(indexDir)
    // the relational path's column order: the USING key first
    val order = fpAt +: schema.indices.filter(_ != fpAt)
    DriverBatch.frame(spark, admitted.map(r => Row.fromSeq(order.map(r.get))),
      StructType(order.map(schema(_))))
  }

  private def admitRelational(spark: SparkSession, indexDir: String,
      batch: DataFrame): DataFrame = {
    val fingerprinted = batch.withColumn("fp", md5(col("text")))
    // in-batch dedup first (q30's canonical window), then the index probe
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    val inBatchCanonical = fingerprinted
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val index = readIndex(spark, indexDir)
    val admitted = inBatchCanonical
      .join(index.select(col("fp")), Seq("fp"), "left_anti")
      // the anti-join result feeds BOTH the index append and the caller:
      // materialize once so the two consumers agree under speculation
      .localCheckpoint(true)
    admitted.select(col("fp"), col("doc_id").as("canonical_id"))
      .write.mode("append").parquet(indexDir)
    admitted
  }

  /** COMPACT the index: rewrite the append-only fingerprint table into
    * defaultParallelism files. Each admit appends up to one file per
    * task, so an hourly-cron index accumulates files ∝ runs — the same
    * small-file decay NearDupIndex documents, minus the bucket factor
    * (this table is flat; at real scale it would be BUCKETED by fp so
    * the probe join co-locates, and compaction would rewrite per
    * bucket). Content is INVARIANT — q95 holds the compacted index's
    * rows to the same DuckDB oracle as the admissions that built it;
    * retry-duplicated rows (documented harmless) are preserved, not
    * cleaned, because compaction changes layout, never content. The
    * rewrite streams through the cluster (no driver/executor
    * materialization) — the swap only happens after the write job
    * completes, and the single-writer cron model means nobody reads
    * the in-between state. */
  def compact(spark: SparkSession, indexDir: String,
      targetFiles: Option[Int] = None): CompactionStats =
    rewriteAndSwap(spark, indexDir) { tmp =>
      readIndex(spark, indexDir)
        .repartition(targetFiles.getOrElse(
          spark.sparkContext.defaultParallelism))
        .write.mode("overwrite").parquet(tmp)
    }

  /** FORGET (tombstone) — the right-to-be-forgotten maintenance op a
    * production corpus index needs and compaction deliberately isn't:
    * remove every fingerprint whose canonical document is tombstoned, so
    * (a) the index stops referencing the deleted document and (b) a
    * re-crawl of identical content RE-ADMITS under a fresh canonical —
    * the only content-CHANGING rewrite in the index family, which is why
    * it rides the same rewrite-and-swap dataflow as compact (priced the
    * same way) but is documented apart: compaction must never change
    * content; forget exists to. Rows whose canonical_id is NOT
    * tombstoned are untouched — previously-rejected duplicates of a
    * surviving canonical stay rejected.
    *
    * Scale shape: one left-anti hash join (tombstones are the small
    * side — broadcast) + a full rewrite; at 100 TB an operator batches
    * tombstones and folds the rewrite into the scheduled compaction
    * window rather than paying it per deletion request. */
  def forget(spark: SparkSession, indexDir: String,
      tombstones: DataFrame): CompactionStats = {
    val ids = tombstones.select(col(tombstones.columns.head)
      .cast("long").as("canonical_id"))
    rewriteAndSwap(spark, indexDir) { tmp =>
      readIndex(spark, indexDir)
        .join(broadcast(ids), Seq("canonical_id"), "left_anti")
        .select("fp", "canonical_id")
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Shared rewrite-and-swap compaction dataflow (used by all three
    * index compacts): write the compacted layout to `<dir>__compacting`,
    * carry the `_graft_meta` contract file if one exists, move the live
    * dir to `<dir>__old`, move the rewrite in, drop the old. A missing
    * index dir is a no-op. Single-writer assumption (the reference's
    * hourly-cron model): the swap is two renames, not atomic — a
    * concurrent admit could observe the in-between state; a
    * multi-writer deployment would point a catalog/manifest entry at
    * the new directory instead, with the same rewrite dataflow. */
  private[ext] def rewriteAndSwap(spark: SparkSession, indexDir: String)(
      write: String => Unit): CompactionStats = {
    // Path(indexDir) normalizes trailing slashes; derive the siblings
    // from the NORMALIZED name — naive string concat on "dir/" would put
    // tmp INSIDE the live index, so the rename-aside carries it along
    val dirPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dirPath)) return CompactionStats(0, 0)
    val tmp = dirPath.suffix("__compacting")
    val old = dirPath.suffix("__old")
    fs.delete(tmp, true); fs.delete(old, true)
    val filesRead = dataFileCount(spark, indexDir)
    write(tmp.toString)
    val filesWritten = dataFileCount(spark, tmp.toString)
    // carry the meta contract (e.g. NearDupIndex's planes) into the
    // rewritten index
    val meta = new org.apache.hadoop.fs.Path(indexDir, "_graft_meta")
    if (fs.exists(meta))
      org.apache.hadoop.fs.FileUtil.copy(fs, meta, fs,
        new org.apache.hadoop.fs.Path(tmp, "_graft_meta"), false,
        spark.sparkContext.hadoopConfiguration)
    if (!fs.rename(dirPath, old))
      throw new java.io.IOException(s"compact: cannot move $dirPath aside")
    if (!fs.rename(tmp, dirPath)) {
      fs.rename(old, dirPath) // roll back
      throw new java.io.IOException(s"compact: cannot move $tmp into place")
    }
    fs.delete(old, true)
    CompactionStats(filesRead, filesWritten)
  }

  /** Count the DATA files of a persisted index (recursively; `_meta`,
    * `_SUCCESS` and dot-files excluded) — the signal the streaming
    * twins' auto-compaction policy thresholds on. Pure file-listing,
    * no Spark job.
    *
    * Deliberately a manual `listStatus` walk, NOT `fs.listFiles(dir,
    * recursive=true)`: listFiles returns LocatedFileStatus — it fetches
    * BLOCK LOCATIONS for every file, an extra per-file round trip that
    * cost ~0.75 s per call on a bucketed index with thousands of
    * `bucket=` partition dirs (measured on q92 at sf0.1 — it doubled
    * the whole compaction). A count needs names, never locations. */
  private[graft] def dataFileCount(spark: SparkSession,
      indexDir: String): Int = {
    val dirPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dirPath)) return 0
    var n = 0
    val stack = scala.collection.mutable.Stack(dirPath)
    while (stack.nonEmpty) {
      fs.listStatus(stack.pop()).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (!name.startsWith("_") && !name.startsWith(".")) stack.push(st.getPath)
        } else if (!name.startsWith("_") && !name.startsWith(".")) n += 1
      }
    }
    n
  }

  private val indexSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("fp",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("canonical_id",
      org.apache.spark.sql.types.LongType)))

  /** Whether anything is stored at `indexDir` yet. */
  private[ext] def exists(spark: SparkSession, indexDir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(indexDir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  /** The current index (empty relation when no run has committed yet). */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    readOrEmpty(spark, indexDir, indexSchema)

  /** Read a persisted index through Spark's OWN reader with an explicit
    * schema, mapping only a genuinely absent/empty path to the empty
    * relation. The previous detection listed `*.parquet` files directly
    * in the dir, so a partitioned or subdir-committed layout silently
    * read as "empty index" and re-admitted the whole corpus — the
    * explicit schema makes an empty-but-existing dir a valid empty
    * relation while partitioned layouts (key=value subdirs) resolve
    * through normal partition discovery. */
  private[ext] def readOrEmpty(spark: SparkSession, indexDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    // pre-check existence so the bootstrap (no index yet) path is the
    // quiet normal case rather than a logged-then-caught AnalysisException
    // on every first run; an existing path still goes through Spark's own
    // reader (partition discovery included), with the catch kept as a
    // belt-and-braces for a dir that exists but holds no readable data
    val path = new org.apache.hadoop.fs.Path(indexDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    if (!fs.exists(path)) empty
    else
      try spark.read.schema(schema).parquet(indexDir)
      catch { case _: org.apache.spark.sql.AnalysisException => empty }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType,
  LongType, StructField, StructType}

/** Incremental NEAR-dup index — the LSH-bucket analog of [[DedupIndex]]
  * (which covers exact fingerprints only): the incremental path of the
  * hourly-cron model (SURVEY §2.3) must reject semantic re-crawls of
  * already-admitted content without re-running near-dup over the whole
  * corpus. The index persists (bucket, vec_id, embedding) — exactly what
  * an ANN index stores — PARTITIONED BY the integer LSH bucket, and each
  * new batch is admitted by probing ONLY its colliding buckets:
  *
  *  1. every batch vector gets its `planes`-bit sign bucket plus the
  *     Hamming-1 probe ball (q79's multi-probe discipline — single-bucket
  *     probing misses ~85% of true pairs at low similarity bars);
  *  2. probes equi-join the index on the bucket key; because `bucket` is
  *     the index's PARTITION column and the probe set is small enough to
  *     broadcast, a real cluster prunes the scan to colliding partitions
  *     (dynamic partition pruning) — per-run cost is
  *     O(batch + colliding buckets), never O(index);
  *  3. candidates are verified with the exact codegen cosine ≥ `bar`;
  *  4. in-batch near-dups collapse greedily to the min id (q32's verdict
  *     discipline: a doc with a verified smaller-id near-dup is dropped);
  *  5. the admitted survivors are appended to the index, so a retry of a
  *     failed run re-derives the same buckets deterministically.
  *
  * A batch already on the driver runs the same five steps over
  * driver-held rows, with one pruned probe scan and one append (see
  * [[admit]]).
  *
  * `planes` is part of the index's identity: bucket keys must be stable
  * across runs, so it is fixed at index creation and PERSISTED in a
  * `_graft_meta` file next to the index data. Every admit checks it and
  * THROWS on mismatch — a re-run configured with a different corpus-size
  * estimate must fail loudly, not silently probe wrong buckets and
  * re-admit near-duplicates. (Underscore-prefixed files are invisible to
  * Spark's parquet reader, `_SUCCESS`-style, so the meta file never
  * pollutes `readIndex`.)
  */
object NearDupIndex {

  private val indexSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("bucket", IntegerType)))

  /** Admit the vectors of `batch` (vec_id, embedding) that have no
    * verified near-dup (cosine ≥ `bar`) in the index or among
    * smaller-id batch members; append them to the index; return them.
    * Its jobs run under the `graft.op` label `dedup.vec_admit`.
    *
    * Scale shape: a batch already on the driver (see [[DriverBatch]])
    * takes the driver path. Buckets fold on the driver (O(batch) rows),
    * and the driver builds the Hamming-1 probe ball, at most
    * O(2^planes) buckets. ONE job scans the index with that ball as a
    * static `bucket IN` partition filter, unioned with the batch's own
    * postings, verifies each candidate with the codegen cosine against
    * the batch's probe rows planted as a map literal, and returns only
    * the rejected ids. One append writes one file per touched bucket;
    * no checkpoint, no shuffle. A batch read from files, tables or a
    * stream (the streaming twin's micro-batches, q84, q92) keeps the
    * relational path below. */
  def admit(spark: SparkSession, indexDir: String, batch: DataFrame,
      planes: Int, bar: Double = 0.9): DataFrame =
    graft.core.OpLabel(spark, "dedup.vec_admit") {
      checkPlanesMeta(spark, indexDir, planes)
      DriverBatch.of(batch) match {
        case Some(local) => admitOnDriver(spark, indexDir, local, planes, bar)
        case None => admitRelational(spark, indexDir, batch, planes, bar)
      }
    }

  private def admitOnDriver(spark: SparkSession, indexDir: String,
      batch: DataFrame, planes: Int, bar: Double): DataFrame = {
    val b = batch.select(col("vec_id"), col("embedding"),
      graft.functions.HyperplaneBucket.bucket(col("embedding"), planes)
        .as("bucket"))
    val rows = b.collect().toSeq // a local projection: no job
    val schema = b.schema
    // Hamming-0/1 probe ball per batch vector (q79's recall discipline)
    val probes = rows.filter(r => !r.isNullAt(2)).flatMap { r =>
      val home = r.getInt(2)
      (home +: (0 until planes).map(p => home ^ (1 << p)))
        .map(_ -> Row(r.get(0), r.get(1)))
    }
    val rejected = if (probes.isEmpty) Set.empty[Any] else {
      val probe = DriverBatch.probes(schema("bucket").dataType,
        StructType(Seq(schema("vec_id"), schema("embedding"))),
        probes.groupMap(_._1: Any)(_._2))
      val index = readIndex(spark, indexDir)
        .filter(col("bucket").isin(probes.map(_._1).distinct: _*))
      // the relational path's postings: the index's and the batch's own
      val postings = index
        .select(col("bucket").as("pb"), col("vec_id").as("i_id"),
          col("embedding").as("i_emb"), lit(true).as("from_index"))
        .unionByName(DriverBatch.frame(spark, rows, schema)
          .select(col("bucket").as("pb"), col("vec_id").as("i_id"),
            col("embedding").as("i_emb"), lit(false).as("from_index")))
      DriverBatch.rejected(postings, probe(col("pb")), "vec_id",
        graft.functions.CosineSimilarity.cosineSim(
          col("p.embedding"), col("i_emb")) >= bar)
    }
    val admitted = rows.filterNot(r => rejected(r.get(0)))
    if (admitted.nonEmpty)
      DriverBatch.clustered(spark, schema, admitted.groupBy(_.get(2)).values)
        .write.mode("append").partitionBy("bucket").parquet(indexDir)
    DriverBatch.frame(spark, admitted, schema)
  }

  private def admitRelational(spark: SparkSession, indexDir: String,
      batch: DataFrame, planes: Int, bar: Double): DataFrame = {
    // bucket computation is per-row dot-product work; spread narrow
    // batches (e.g. a single input split) across the cluster first
    val np = spark.sparkContext.defaultParallelism
    val spread = if (batch.rdd.getNumPartitions < np)
      batch.repartition(np) else batch
    val b = spread.select(col("vec_id"), col("embedding"),
      graft.functions.HyperplaneBucket.bucket(col("embedding"), planes)
        .as("bucket"))
      // the probe pass + the append consume this; materialize once
      .localCheckpoint(true)
    // Hamming-0/1 probe ball per batch vector (q79's recall discipline).
    // ID-ONLY probe exchange (multiProbePairs' discipline): the exploded
    // side carries (vec_id, probe_bucket) — ~12 bytes/row — never the
    // embedding; the batch embedding re-joins BY ID after the bucket
    // match, so the (planes+1)× fan-out never replicates the payload.
    val probeCols = col("bucket") +: (0 until planes).map(p =>
      col("bucket").bitwiseXOR(lit(1 << p)))
    val probes = b.select(col("vec_id"),
      explode(array(probeCols: _*)).as("pb"))
    // ONE probe join against (index ∪ batch): the two rejection sources
    // differ only in their id predicate, carried by the `from_index` tag —
    // (a) near-dup of an already-indexed vector rejects on ANY other id
    // (SELF-matches excluded so a replayed batch — the foreachBatch retry
    // path — finds its own prior append in the index and still re-derives
    // the SAME admissions: retries duplicate index rows, harmless probe
    // space, but never flip a verdict); (b) near-dup of a smaller-id batch
    // member (greedy min-id keep). The index side is the ONLY part whose
    // cost touches the index, and it is partition-pruned by the bucket key.
    val index = readIndex(spark, indexDir)
    val postings = index
      .select(col("bucket").as("pb"), col("vec_id").as("i_id"),
        col("embedding").as("i_emb"), lit(true).as("from_index"))
      .unionByName(b.select(col("bucket").as("pb"),
        col("vec_id").as("i_id"), col("embedding").as("i_emb"),
        lit(false).as("from_index")))
    val dup = probes.join(postings, Seq("pb"))
      .filter((col("from_index") && col("i_id") =!= col("vec_id")) ||
        (!col("from_index") && col("i_id") < col("vec_id")))
      .join(b.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .withColumn("c", graft.functions.CosineSimilarity.cosineSim(
        col("embedding"), col("i_emb")))
      .filter(col("c") >= bar)
      .select(col("vec_id")).distinct()
    val admitted = b
      .join(dup, Seq("vec_id"), "left_anti")
      .localCheckpoint(true) // index append + caller must agree
    // cluster rows by bucket before the dynamic-partition write: without
    // it every task opens a parquet writer in every bucket dir it touches
    // (tasks × buckets file inits — measured ~18 ms each, 10× the write
    // cost at sf0.1, and a small-file explosion at real scale).
    // EXPLICIT partition count: a bare repartition(col) lets AQE coalesce
    // the tiny exchange to one task, which serializes the file inits —
    // the explicit number keeps them parallel at one-file-per-bucket.
    val writeTasks = math.min(1 << planes,
      spark.sparkContext.defaultParallelism)
    admitted.select(col("vec_id"), col("embedding"), col("bucket"))
      .repartition(writeTasks, col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(indexDir)
    admitted
  }

  /** COMPACT the index: rewrite every bucket partition as one file.
    * Each hourly admit appends one file per touched bucket, so a
    * long-lived index accumulates files ∝ runs × buckets — the classic
    * small-file decay of any append-only table. Compaction reads the
    * index once, re-clusters by bucket (same explicit-count discipline
    * as the admit write), and swaps directories via the shared
    * rewrite-and-swap dataflow (DedupIndex.rewriteAndSwap — the
    * `_graft_meta` planes contract travels with the rewrite, and the
    * single-writer caveat is documented there). ADMISSIONS ARE
    * INVARIANT — compaction changes layout, never content (q92 holds
    * the compacted index's contents to the same DuckDB oracle as the
    * admissions that built it). */
  def compact(spark: SparkSession, indexDir: String)
      : DedupIndex.CompactionStats =
    DedupIndex.rewriteAndSwap(spark, indexDir) { tmp =>
      // plain defaultParallelism, no distinct-bucket count job: hash
      // clustering still lands each bucket in exactly one task (a task
      // owning no bucket writes nothing), so the one-file-per-bucket
      // outcome is identical and the sizing job is saved
      readIndex(spark, indexDir)
        .repartition(spark.sparkContext.defaultParallelism, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    }

  /** FORGET (tombstone) admitted vectors — DedupIndex.forget's eager
    * discipline for the embedding index (the signature table is the
    * admitted-canonical subset, so a full rewrite per tombstone batch is
    * the fingerprint-table price, not the ANN code-table one — contrast
    * IvfPqIndex.forget's lazy side table): anti-join the broadcast
    * tombstone ids, rewrite in the bucket layout (planes meta carried by
    * the swap). A later near-dup of a FORGOTTEN vector admits — the
    * semantic point; near-dups of survivors stay rejected. */
  def forget(spark: SparkSession, indexDir: String,
      tombstones: DataFrame): DedupIndex.CompactionStats = {
    val ids = tombstones.select(col(tombstones.columns.head)
      .cast("long").as("vec_id"))
    DedupIndex.rewriteAndSwap(spark, indexDir) { tmp =>
      readIndex(spark, indexDir)
        .join(broadcast(ids), Seq("vec_id"), "left_anti")
        .select("vec_id", "embedding", "bucket")
        .repartition(spark.sparkContext.defaultParallelism, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    }
  }

  /** Enforce the planes-stability contract: on the index's FIRST admit,
    * persist `planes` to `indexDir/_graft_meta`; on every later admit,
    * require the caller's `planes` to equal the persisted one. Goes
    * through the Hadoop FileSystem API so the contract holds on any
    * storage scheme the index itself can live on. */
  private def checkPlanesMeta(spark: SparkSession, indexDir: String,
      planes: Int): Unit = {
    val path = new org.apache.hadoop.fs.Path(indexDir, "_graft_meta")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) {
      val in = fs.open(path)
      val stored =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
      if (stored != planes)
        throw new IllegalArgumentException(
          s"NearDupIndex at $indexDir was created with planes=$stored but " +
            s"admit was called with planes=$planes; bucket keys would not " +
            "match the persisted index — pass the index's own planes " +
            "(stored in its _graft_meta file)")
    } else {
      fs.mkdirs(path.getParent)
      val out = fs.create(path, false)
      try out.write(planes.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** The current index (empty relation when no run has committed yet).
    * Detection goes through Spark's own reader with an explicit schema —
    * a flat, partitioned, or subdir-committed layout all read correctly,
    * and only a genuinely absent path maps to the empty relation (the
    * old flat `*.parquet` listing read partitioned layouts as "empty
    * index" and would have re-admitted the whole corpus). */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    DedupIndex.readOrEmpty(spark, indexDir, indexSchema)
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType,
  StringType, StructField, StructType}

/** Incremental near-dup index for TEXT — the MinHash band-key sibling of
  * [[NearDupIndex]] (embeddings) and [[DedupIndex]] (exact): the
  * hourly-cron incremental path must reject a near-duplicate re-crawl
  * (boilerplate re-render, trivial edit) without re-shingling the
  * admitted corpus.
  *
  * What persists per admitted document is exactly what q32's LSH needs
  * and nothing more: the 16-value MinHash SIGNATURE plus its 2 band keys
  * (8 rows each) — never the text. Unlike q32's batch form, the
  * signature here takes NO hot-shingle guard: the guard keys on corpus
  * document frequency, which changes as the corpus grows, and an
  * incremental index needs signatures that are a pure function of the
  * document alone so band keys stay stable across runs.
  *
  * Admission per batch:
  *  1. signatures + band keys for the batch (per-row expressions);
  *  2. candidates = equi-join on (band, band_key) against the index —
  *     probe cost ∝ colliding keys, never ∝ index (at real scale the
  *     index table is bucketed by band_key so the probe co-locates);
  *  3. verification = estimated Jaccard from the STORED signatures:
  *     matching minhash positions ≥ `minMatches` of 16 (15 ≈ J ≥ 0.9) —
  *     no text ever leaves the batch;
  *  4. in-batch near-dups collapse greedily to the min doc_id (q32's
  *     verdict discipline); self-matches are excluded so a replayed
  *     batch re-derives identical admissions (the foreachBatch retry
  *     contract shared with NearDupIndex).
  *
  * A batch already on the driver runs the same steps over driver-held
  * rows, with one pruned probe scan and one append (see [[admit]]).
  */
object TextNearDupIndex {

  private val indexSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sig", ArrayType(LongType)),
    StructField("band", IntegerType),
    StructField("band_key", StringType)))

  /** (doc_id, sig) — 16 deterministic minhashes over distinct unigrams,
    * ordered by hash index (q32's signature, guard-free). Computed by
    * the native `minhash_sig` expression (graft.functions.MinHashSig):
    * the minhash is a pure function of the document's own token set, so
    * there is nothing to shuffle, and the former declarative HOF form
    * re-tokenized the document inside each of its 16 INTERPRETED outer
    * lambda frames (higher-order functions never codegen) — the native
    * loop tokenizes once, hashes straight off the digest bytes, and
    * stays inside WholeStageCodegen. MinHashSigSpec pins it
    * bit-identical to the HOF form under both eval modes.
    *
    * Hash = the leading 60 bits of md5("i:word") (15 hex digits via
    * conv base-16) — an ENGINE-PORTABLE hash: DuckDB computes the same
    * BIGINT with a 0x cast, which is what puts the whole incremental
    * admission sequence (q88) under the driver's hash-exact oracle gate
    * instead of a golden pin. A throughput-critical deployment would
    * swap xxhash64 back in (~3× faster per hash) — the signature
    * algebra (min over the token set, per index i) is hash-agnostic. */
  private def signatures(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"),
      graft.functions.MinHashSig.sig(col("text")).as("sig"))

  /** Explode a signature into its (band, band_key) rows: 2 bands x 8
    * rows, key = comma-joined minhash values of the band. */
  private def bandKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"), explode(bandKeyArray).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.band_key").as("band_key"))

  /** A signature's (band, band_key) structs as one array column. */
  private def bandKeyArray: Column = expr(
    """transform(sequence(0, 1), b -> struct(cast(b AS int) AS band,
      |  array_join(transform(slice(sig, b * 8 + 1, 8),
      |    x -> cast(x AS string)), ',') AS band_key))""".stripMargin)

  /** Matching-position count between two 16-value signatures. */
  private def sigMatches(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)

  /** Admit the documents of `batch` (doc_id, text) with no verified
    * near-dup (signature agreement ≥ `minMatches`/16) in the index or
    * among smaller-id batch members; append their signatures; return
    * the admitted (doc_id, sig) rows. Its jobs run under the `graft.op`
    * label `dedup.text_admit`.
    *
    * Scale shape: a batch already on the driver (see [[DriverBatch]])
    * takes the driver path. Signatures and band keys fold on the driver
    * (O(batch) rows), and ONE job scans the index pre-filtered by
    * `band_key IN (batch keys)`, unioned with the batch's own postings,
    * verifies each candidate against the batch's probe rows planted as
    * a map literal, and returns only the rejected ids. One file is
    * appended from the driver ([[DriverFiles]]); no checkpoint, no
    * shuffle, no write job. A batch read from files, tables or a stream
    * (the streaming twin's micro-batches, q88) keeps the relational path
    * below: a spread, two checkpoints and a shuffle join on (band,
    * band_key). */
  def admit(spark: SparkSession, indexDir: String, batch: DataFrame,
      minMatches: Int = 15): DataFrame =
    graft.core.OpLabel(spark, "dedup.text_admit") {
      DriverBatch.of(batch) match {
        case Some(local) => admitOnDriver(spark, indexDir, local, minMatches)
        case None => admitRelational(spark, indexDir, batch, minMatches)
      }
    }

  private def admitOnDriver(spark: SparkSession, indexDir: String,
      batch: DataFrame, minMatches: Int): DataFrame = {
    val sigs = signatures(batch)
    val schema = bandKeys(sigs).schema // (doc_id, sig, band, band_key)
    // explode's rows, from the band-key array folded on the driver
    val keyed = sigs.select(col("doc_id"), col("sig"), bandKeyArray)
      .collect().toSeq.flatMap { r =>
        Option(r.getSeq[Row](2)).getOrElse(Nil)
          .map(bk => Row(r.get(0), r.get(1), bk.get(0), bk.get(1)))
      }
    val rejected = if (keyed.isEmpty) Set.empty[Any] else {
      val keys = keyed.flatMap(r => Option(r.getString(3))).distinct
      val probe = DriverBatch.probes(schema("band_key").dataType,
        StructType(Seq(schema("band"), schema("doc_id"), schema("sig"))),
        keyed.groupBy(_.get(3)).map { case (k, rs) =>
          k -> rs.map(r => Row(r.get(2), r.get(0), r.get(1))) })
      val index = readIndex(spark, indexDir)
        .filter(col("band_key").isin(keys: _*))
      // the relational path's postings: the index's and the batch's own
      val postings = index
        .select(col("band"), col("band_key"), col("doc_id").as("i_id"),
          col("sig").as("i_sig"), lit(true).as("from_index"))
        .unionByName(DriverBatch.frame(spark, keyed, schema)
          .select(col("band"), col("band_key"), col("doc_id").as("i_id"),
            col("sig").as("i_sig"), lit(false).as("from_index")))
      DriverBatch.rejected(postings, probe(col("band_key")), "doc_id",
        col("p.band") === col("band") &&
          sigMatches(col("p.sig"), col("i_sig")) >= minMatches)
    }
    val admitted = keyed.filterNot(r => rejected(r.get(0)))
    DriverFiles.write(spark, indexDir, schema, Nil, admitted)
    DriverBatch.frame(spark, admitted.map(r => Row(r.get(0), r.get(1))).distinct,
      StructType(Seq(schema("doc_id"), schema("sig"))))
  }

  private def admitRelational(spark: SparkSession, indexDir: String,
      batch: DataFrame, minMatches: Int): DataFrame = {
    // the signature is CPU-bound per-row work (16 hash passes over the
    // token set); a batch arriving as a handful of input splits would
    // serialize it, so spread narrow batches across the cluster first —
    // a shuffle of raw (id, text) rows, cheap relative to the hashing
    val np = spark.sparkContext.defaultParallelism
    val spread = if (batch.rdd.getNumPartitions < np)
      batch.repartition(np) else batch
    val keyed = bandKeys(signatures(spread)).localCheckpoint(true)
    val index = readIndex(spark, indexDir)
    // ONE probe join against (index ∪ smaller-id batch members): the two
    // rejection sources differ only in their id predicate, carried by the
    // `from_index` tag — vs-index rejects on ANY other id, vs-batch only
    // on a smaller id (greedy min-id keep). Half the join/verify work of
    // the former two-pass shape, same admissions.
    val postings = index
      .select(col("band"), col("band_key"), col("doc_id").as("i_id"),
        col("sig").as("i_sig"), lit(true).as("from_index"))
      .unionByName(keyed.select(col("band"), col("band_key"),
        col("doc_id").as("i_id"), col("sig").as("i_sig"),
        lit(false).as("from_index")))
    val dup = keyed.join(postings, Seq("band", "band_key"))
      .filter((col("from_index") && col("i_id") =!= col("doc_id")) ||
        (!col("from_index") && col("i_id") < col("doc_id")))
      .filter(sigMatches(col("sig"), col("i_sig")) >= minMatches)
      .select(col("doc_id")).distinct()
    val admitted = keyed
      .join(dup, Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // index append + caller must agree
    admitted.select(col("doc_id"), col("sig"), col("band"), col("band_key"))
      .write.mode("append").parquet(indexDir)
    admitted.select(col("doc_id"), col("sig")).distinct()
  }

  /** COMPACT the index: rewrite the append-only signature table into
    * defaultParallelism files via the shared rewrite-and-swap dataflow
    * (DedupIndex.rewriteAndSwap — single-writer caveat documented
    * there). Each admit appends up to one file per task, so the
    * hourly-cron model decays this table exactly like DedupIndex's
    * (files ∝ runs; no bucket factor — the table is flat, and at real
    * scale it would be BUCKETED by band_key so the probe equi-join
    * co-locates, with compaction rewriting per bucket). Content is
    * INVARIANT: admissions derive from the persisted signature rows,
    * and those rows survive the rewrite as an exact multiset
    * (TextNearDupIndexSpec proves it, plus that admissions after a
    * compact are unchanged). */
  def compact(spark: SparkSession, indexDir: String)
      : DedupIndex.CompactionStats =
    DedupIndex.rewriteAndSwap(spark, indexDir) { tmp =>
      readIndex(spark, indexDir)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(tmp)
    }

  /** FORGET (tombstone) admitted documents — the eager rewrite
    * discipline (see NearDupIndex.forget for the family rationale):
    * drop every band-key row of the tombstoned doc_ids so a later
    * near-dup of forgotten text re-admits, while survivors' band keys
    * keep rejecting theirs. */
  def forget(spark: SparkSession, indexDir: String,
      tombstones: DataFrame): DedupIndex.CompactionStats = {
    val ids = tombstones.select(col(tombstones.columns.head)
      .cast("long").as("doc_id"))
    DedupIndex.rewriteAndSwap(spark, indexDir) { tmp =>
      readIndex(spark, indexDir)
        .join(broadcast(ids), Seq("doc_id"), "left_anti")
        .select("doc_id", "sig", "band", "band_key")
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** The current index (empty relation when no run has committed yet);
    * detection through Spark's own reader (DedupIndex.readOrEmpty). */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    DedupIndex.readOrEmpty(spark, indexDir, indexSchema)
}

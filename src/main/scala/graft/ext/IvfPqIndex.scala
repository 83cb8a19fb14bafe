package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType,
  StructField, StructType}
import graft.core.{QueryDef, Tables}

/** PERSISTED IVF-PQ index — the production lifecycle of q93/q96's
  * end-to-end query (which retrains per invocation): codebooks are
  * trained ONCE on a sample, frozen on disk, and every later batch is
  * encoded against them without retraining — FAISS's
  * `train` / `add` / `search` split (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011 — the IVFADC
  * system). This is the missing production property of the q84/q85/q88
  * incremental family applied to ANN serving: an hourly crawl cannot
  * re-run two Lloyd trainers over a 100 TB corpus per batch, and it
  * must not, because re-trained codebooks would re-encode (and
  * invalidate) every previously admitted code.
  *
  *  - [[create]] trains the coarse codebook (k=8 cells, two Lloyd
  *    rounds, q81's integer-grid discipline) and the residual PQ
  *    sub-codebooks (M=32 × K=256, q89's) on the TRAINING frame only,
  *    and persists both to `indexDir/_graft_meta` — bounded driver
  *    state (k·d + M·K·subdim grid longs), invisible to the parquet
  *    reader. Codebooks are IMMUTABLE: a second create throws (retrain
  *    = new index, exactly FAISS's contract).
  *  - [[add]] encodes a run's batch with the FROZEN codebooks — coarse
  *    cell by per-row argmin, residual on the integer grid, PQ codes
  *    via the native pq_argmin — and OVERWRITES
  *    `indexDir/batch=<runId>/cell=<c>/`. Encoding never looks at
  *    previously indexed vectors, and the per-run overwrite makes adds
  *    IDEMPOTENT: a replayed run rewrites its own partition
  *    byte-identically instead of appending duplicates. That matters
  *    here more than in the other indexes: a duplicated code row would
  *    not just waste probe space, it would double-count that vector's
  *    ADC sub-terms and corrupt its serve distance.
  *  - [[search]] is q96's multi-probe ADC serve against the persisted
  *    code table, as IVFADC's single pass: the driver picks each
  *    query's nprobe cells and residuals, the scan is statically pruned
  *    to those `cell=` partitions, and one fused task per partition
  *    builds the per-probe M×K LUTs, scores each code row as a sum of
  *    M table lookups and keeps a k-bounded heap per query; one
  *    single-partition exchange of ≤ tasks·queries·k rows merges the
  *    heaps. Cost ∝ probed-cell sizes, over M-int codes, never raw
  *    vectors.
  *  - [[compact]] is the q92/q95 maintenance op: committed runs
  *    collapse into the reserved `batch=-1` epoch at one file per cell,
  *    content-invariant, codebook meta carried by the shared
  *    rewrite-and-swap. The streaming twin compacts at the START of a
  *    micro-batch with the in-flight runId EXCLUDED, so an uncommitted
  *    (replayable) run is never merged into the epoch — the replay
  *    simply rewrites its own partition.
  *
  * PRECONDITION: distinct runs carry DISJOINT vec_ids (the reference's
  * cron model — each run admits only new records, and upstream that is
  * exactly what DedupIndex/NearDupIndex.admit enforce). A vector
  * re-added under a DIFFERENT runId is not a replay but a caller bug:
  * its duplicate code rows would double its ADC sub-terms in every
  * serve. Replays of the SAME runId are safe by the overwrite layout.
  *
  * The whole lifecycle stays on the integer grid (residuals close over
  * it; both trainers and both argmins are BIGINT), so create→add→add→
  * search is oracle-exact end to end: q97 holds the persisted index's
  * CONTENTS (every vector's cell + 32 codes, after a two-batch add and
  * a compact) to a DuckDB restatement that trains only on batch A, and
  * q98 holds the nprobe=2 search results from the persisted index.
  */
object IvfPqIndex {

  /** Coarse cell count — q81's k (seed = the 8 smallest training
    * vec_ids, cell id = the seed's vec_id). */
  private[ext] val COARSE_K = 8

  /** `batch` and `cell` are PARTITION columns (directory levels, in
    * that order); `batch` is the admitting run's id, with -1 reserved
    * for the compacted epoch. */
  private val indexSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("codes", ArrayType(IntegerType)),
    StructField("batch", LongType),
    StructField("cell", IntegerType)))

  /** Train both codebooks on `train` (vec_id, embedding) and persist
    * them. THROWS if the index already has codebooks — they are frozen
    * at create time because every admitted code is encoded against
    * them; retraining means building a new index. */
  def create(spark: SparkSession, indexDir: String,
      train: DataFrame): Unit =
    createFromGrid(spark, indexDir, Similarity.gridFrame(spark, train))

  /** [[create]] over an ALREADY-GRIDDED (vec_id, qa) frame — lets a
    * caller that grids the same batch for both create and add (the
    * two-batch fixture) pay the spread+checkpoint once (r18). */
  private def createFromGrid(spark: SparkSession, indexDir: String,
      eg: DataFrame): Unit = {
    val cSeed = eg.orderBy("vec_id").limit(COARSE_K)
      .select(col("vec_id").cast("int").as("cell"), col("qa"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toSeq)
      .toSeq.sortBy(_._1)
    val coarse = Similarity.coarseLloyd(eg, cSeed)
    val resid = Similarity.residualFrame(coarse, eg)
    val pSeed = resid.orderBy("vec_id").limit(Similarity.PQ_K)
      .select(col("vec_id").cast("int").as("cell"), col("qa"))
      .collect().flatMap { r =>
        val cell = r.getInt(0)
        val qa = r.getSeq[Long](1)
        (0 until Similarity.PQ_M).map(m => (m, cell,
          qa.slice(m * Similarity.PQ_SUBDIM,
            (m + 1) * Similarity.PQ_SUBDIM).toSeq))
      }.toSeq.sortBy(t => (t._1, t._2))
    val subcents = Similarity.pqLloyd(resid.select("vec_id", "qa"), pSeed)
    writeMeta(spark, indexDir, coarse, subcents)
  }

  /** Encode run `runId`'s `batch` (vec_id, embedding) with the
    * persisted codebooks and OVERWRITE the run's index partition
    * `indexDir/batch=<runId>/` — idempotent per run id, so a replay
    * rewrites the same rows instead of appending duplicates. Returns
    * the written (vec_id, codes, cell) rows. Throws if [[create]]
    * never ran, or on the reserved runId -1 (the compacted epoch). */
  def add(spark: SparkSession, indexDir: String, batch: DataFrame,
      runId: Long): DataFrame =
    addFromGrid(spark, indexDir, Similarity.gridFrame(spark, batch),
      runId)

  private def addFromGrid(spark: SparkSession, indexDir: String,
      eg: DataFrame, runId: Long): DataFrame = {
    require(runId >= 0, "runId -1 is reserved for the compacted epoch")
    val Codebooks(coarse, subcents) = readMeta(spark, indexDir)
    // residual + PQ codes, all frozen-codebook per-row argmins; codes
    // pack to one M-int array per vector (the FAISS code layout —
    // serve storage ∝ M ints, never the raw embedding)
    val coded = Similarity.pqWithBest(
        Similarity.residualFrame(coarse, eg), subcents)
      .select(col("vec_id"),
        expr("transform(ba, b -> b.cell)").as("codes"), col("cell"))
      // the index write and the caller must agree; materialize once
      .localCheckpoint(true)
    // cluster by cell before the dynamic-partition write (NearDupIndex's
    // one-file-per-partition discipline, same explicit-count rationale)
    val writeTasks = math.min(COARSE_K,
      spark.sparkContext.defaultParallelism)
    coded.repartition(writeTasks, col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/batch=$runId")
    coded
  }

  /** Top-`k` ADC search of `queries` (vec_id, embedding) against the
    * persisted index at `nprobe` coarse cells per query — q96's serve
    * shape over frozen codebooks. Output (q_id, n_id, adist, rk),
    * ordered by (q_id, rk); ranks by (adist, n_id), a query never
    * returns its own id. The probed-cell set is a static partition
    * filter on the code scan, and the scan is one fused ADC pass
    * (per-probe LUT, M lookups per code, per-query top-k heap) — no
    * LUT join, candidate shuffle or window; see [[serve]]. */
  def search(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 2): DataFrame =
    serve(spark, indexDir, queries, k, nprobe, allowed = None)

  /** FILTERED serve — the FAISS `IDSelector` analog, with q102's
    * PRE-filter semantics on the persisted index: the allowed-id set
    * restricts the CANDIDATE side before any ranking work, so the serve
    * never under-returns k when enough allowed neighbors exist (a
    * post-filter of an unfiltered top-k would). `allowed` carries ids
    * only — at 100 TB the metadata predicate resolves on the (small)
    * metadata table and ships ids, never payloads — and the join plan
    * is SELECTIVITY-ADAPTIVE ([[idFilter]]): a selective predicate's id
    * set broadcasts into the semi-join; above the size cutoff (a
    * low-selectivity predicate keeping half a 10^10-row corpus would be
    * tens of GB — a forced broadcast is a driver/executor OOM) it
    * degrades to a shuffled hash semi-join, the same exchange the code
    * scan already pays for ranking. One count job prices the set. */
  def searchFiltered(spark: SparkSession, indexDir: String,
      queries: DataFrame, allowedIds: DataFrame,
      k: Int = 5, nprobe: Int = 2): DataFrame = {
    val ids = idFrame(allowedIds)
    serve(spark, indexDir, queries, k, nprobe,
      allowed = Some((ids, ids.count())))
  }

  /** [[searchFiltered]] with predicate-aware probe OVER-FETCH — the
    * recall side of the pre-filter contract: at selectivity s, the
    * nprobe cells nearest the query hold ~s× the usual allowed
    * candidates, so a fixed probe width starves the shortlist (q129
    * measured recall_filtered 0.56 at s≈0.5, nprobe=2). Escalate the
    * probe width by inverse selectivity — nprobe′ = min(COARSE_K,
    * nprobe·⌈1/s⌉), s measured as |allowed| / |indexed| (two count
    * jobs; allowed ⊆ indexed is the caller contract, same as
    * [[searchFiltered]]) — so the expected ALLOWED candidate pool is
    * held roughly constant as selectivity drops. The escalation is
    * priced, not free: q129's acceptance row carries the recovered
    * recall AND the extra scored-candidate cost side by side.
    *
    * Measured at sf0.01 (s≈0.5): recall_filtered 0.56 → 0.64 at
    * nprobe′=4 for 2× the scored candidates (613→1250); the FULL probe
    * (nprobe=8, 2534 candidates) reaches only 0.68, so the escalation
    * recovers two-thirds of the recoverable probing loss at half the
    * full-scan cost — the remainder is ADC quantization error, which no
    * probe width can buy back; compose with the q104 by-id exact
    * re-rank when that last tier matters. */
  def searchFilteredAdaptive(spark: SparkSession, indexDir: String,
      queries: DataFrame, allowedIds: DataFrame,
      k: Int = 5, nprobe: Int = 2): DataFrame = {
    val ids = idFrame(allowedIds)
    val nAllowed = ids.count()
    val corpus = graft.core.Tables.parquetRowCount(spark, indexDir)
      .getOrElse(readIndex(spark, indexDir).count())
    serve(spark, indexDir, queries, k,
      adaptiveNprobe(nprobe, nAllowed, corpus),
      allowed = Some((ids, nAllowed)))
  }

  /** The probe-escalation policy, factored for spec + oracle parity:
    * nprobe′ = min(COARSE_K, nprobe · ⌈corpus/allowed⌉). q129's oracle
    * restates this exact arithmetic in SQL over the same counts. */
  private[ext] def adaptiveNprobe(nprobe: Int, nAllowed: Long,
      corpus: Long): Int =
    if (nAllowed <= 0 || corpus <= 0) nprobe
    else math.min(COARSE_K.toLong,
      nprobe * math.ceil(corpus.toDouble / nAllowed).toLong).toInt

  private def idFrame(ids: DataFrame): DataFrame =
    ids.select(col(ids.columns.head).cast("long").as("vec_id"))

  /** Rows below which an ids-only side (8-byte key, ~16 B/row with
    * overhead) may be broadcast: autoBroadcastJoinThreshold / 16 —
    * honoring the session's broadcast budget instead of bypassing it
    * with an unconditional hint. Threshold ≤ 0 (broadcast disabled)
    * means never. */
  private def idRowCutoff(spark: SparkSession): Long = {
    val s = spark.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    val bytes =
      if (s.startsWith("-")) -1L
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
    if (bytes <= 0) 0L else bytes / 16L
  }

  /** Size-gated id semi/anti join: broadcast below the cutoff (the
    * right plan for selective predicates and routine tombstone loads),
    * shuffled hash join above it (the plan that survives a
    * low-selectivity allowed set or a delete-heavy, rarely-compacted
    * tombstone table at 100 TB — neither side is ever collected or
    * force-broadcast). */
  private def idFilter(df: DataFrame, ids: DataFrame, nIds: Long,
      joinType: String, cutoff: Long): DataFrame =
    if (nIds <= cutoff) df.join(broadcast(ids), Seq("vec_id"), joinType)
    else df.join(ids.hint("shuffle_hash"), Seq("vec_id"), joinType)

  /** The serve every search flavor routes through — IVFADC's one pass
    * (Jégou et al. §4): the driver grids the (small) query frame and
    * picks each query's probes ([[AdcScan.plan]]); the code scan is
    * [[probedCodes]] (pruned to the probed cells, tombstones and the
    * allowed set applied); one fused task per scan partition builds
    * the per-probe LUTs from the closure-captured residuals and flat
    * sub-codebook, scores each row against the queries probing its
    * cell and keeps a k-bounded heap per query ([[AdcScan.topK]]); a
    * single-partition exchange of ≤ tasks·queries·k rows merges the
    * heaps and ranks ([[AdcScan.merge]]). Every distance is the same
    * exact integer sum as [[scoredCandidates]] with the same
    * (adist, n_id) tie-break, so the rows equal its windowed top-k. */
  private def serve(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, nprobe: Int,
      allowed: Option[(DataFrame, Long)]): DataFrame = {
    import spark.implicits._
    val scan = AdcScan.plan(readMeta(spark, indexDir), queries, nprobe, k)
    probedCodes(spark, indexDir, scan.cells, allowed)
      .select(col("vec_id"), col("cell"), col("codes"))
      .as[(Long, Int, Array[Int])]
      .mapPartitions(rows => scan.topK(rows))
      .repartition(1)
      .mapPartitions(rows => AdcScan.merge(k, rows))
      .toDF("q_id", "n_id", "adist", "rk")
  }

  /** The relational ADC scoring stage: (q_id, n_id, adist) for every
    * candidate in a probed cell, by a broadcast (sub, code, p_cell)
    * LUT join and a (q_id, n_id) aggregate. Not a serve path: it is
    * the candidate-count instrument (q129/q132, tools.ScaleProbe) and
    * the reference form [[serve]] is tested against. `allowed` carries
    * the id frame AND its counted size for [[idFilter]]'s gate. */
  private[graft] def scoredCandidates(spark: SparkSession, indexDir: String,
      queries: DataFrame, nprobe: Int,
      allowed: Option[(DataFrame, Long)]): DataFrame = {
    val Codebooks(coarse, subcents) = readMeta(spark, indexDir)
    // query-side grid, inline (≤ a handful of rows — no corpus spread)
    val qg = queries.select(col("vec_id"),
      expr(Similarity.gridSql).as("qa"))
    // one execution of the probe-cell window feeds both the probed-cell
    // IN-set and, as a local relation, the LUT explode
    val pcPlan = Similarity.probeCells(qg, coarse, nprobe)
    val pcRows = pcPlan.collect()
    val pcLocal = spark.createDataFrame(
      java.util.Arrays.asList(pcRows: _*), pcPlan.schema)
    val lut = Similarity.probeLutOver(pcLocal, subcents)
    val probedCells = pcRows.map(_.getAs[Int]("p_cell")).distinct.toSeq
    probedCodes(spark, indexDir, probedCells, allowed)
      .select(col("vec_id").as("n_id"), col("cell").as("p_cell"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(lut), Seq("sub", "code", "p_cell"))
      .filter(col("n_id") =!= col("q_id"))
      .groupBy("q_id", "n_id")
      .agg(sum("d2q").as("adist"))
  }

  /** The code rows a serve scores: the code table restricted to
    * `probedCells`, minus tombstoned ids, semi-joined to the allowed
    * ids when given. */
  private def probedCodes(spark: SparkSession, indexDir: String,
      probedCells: Seq[Int],
      allowed: Option[(DataFrame, Long)]): DataFrame = {
    // STATIC partition pruning on the cell= layout: the probed-cell set
    // is known BEFORE the scan, so put the IN-set where the file index
    // can act on it: the scan lists only probed `cell=` directories
    // instead of reading the whole code table. Deterministic — unlike
    // runtime DPP. ScanPruningSpec asserts the PartitionFilters line.
    val cutoff = idRowCutoff(spark)
    // lazily-forgotten ids vanish from the serve before any ranking
    // work; both the tombstone anti-join and the allowed-id semi-join
    // go through the size gate — ids only, broadcast only when small.
    // No tombstone side table on disk (the common case) = no
    // anti-join and no count job at all.
    val probed = readIndex(spark, indexDir)
      .filter(col("cell").isin(probedCells: _*))
    val afterTombs = readTombstonesOpt(spark, indexDir) match {
      case Some(tombs) =>
        // broadcast-gate count from tombstone-file footers (driver
        // metadata, no job); a huge side table falls back to the job
        idFilter(probed, tombs,
          graft.core.Tables.parquetRowCount(spark,
              s"$indexDir/_tombstones")
            .getOrElse(tombs.count()), "left_anti", cutoff)
      case None => probed
    }
    allowed.foldLeft(afterTombs) {
      case (df, (ids, n)) => idFilter(df, ids, n, "left_semi", cutoff)
    }
  }

  /** FORGET (tombstone) vectors from the persisted index — the FAISS
    * `remove_ids` analog, with the LAZY-delete discipline a 100 TB code
    * table forces: unlike `DedupIndex.forget` (a flat fingerprint table,
    * cheap to rewrite eagerly), rewriting the whole code table per
    * deletion request would price every forget at a full compaction. So
    * forget only APPENDS the ids to a `_tombstones/` side table
    * (underscore-prefixed: invisible to the code-table scan's partition
    * discovery AND to dataFileCount); [[search]] anti-joins the
    * tombstone set before any ranking work (size-gated: broadcast only
    * under the session's autoBroadcastJoinThreshold budget, shuffle
    * hash beyond it — a forget backlog must not blow the driver); the next
    * [[compact]] drops the rows physically and the swap retires the
    * side table with the old directory. Contract: vec_ids are stable
    * identities — re-`add`ing a forgotten id stays suppressed until a
    * compaction clears the tombstone (lazy-delete semantics; an
    * id-reuse deployment must compact between forget and re-add). */
  def forget(spark: SparkSession, indexDir: String,
      tombstones: DataFrame): Unit =
    tombstones.select(col(tombstones.columns.head).cast("long")
        .as("vec_id"))
      .repartition(1)
      .write.mode("append").parquet(s"$indexDir/_tombstones")

  private val tombSchema = StructType(Seq(
    StructField("vec_id", LongType)))

  private def readTombstones(spark: SparkSession,
      indexDir: String): DataFrame =
    DedupIndex.readOrEmpty(spark, s"$indexDir/_tombstones", tombSchema)

  /** None when no tombstone side table exists on disk — the common
    * case, where the serve/compact paths can skip the anti-join (and
    * its count job) entirely instead of joining an empty relation. */
  private def readTombstonesOpt(spark: SparkSession,
      indexDir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/_tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(readTombstones(spark, indexDir)) else None
  }

  /** COMPACT the code table: collapse all run partitions into the
    * reserved `batch=-1` epoch at one file per cell — content invariant
    * (modulo the batch bookkeeping column), codebook meta carried by
    * the shared rewrite-and-swap (single-writer caveat documented at
    * DedupIndex.rewriteAndSwap). `excludeBatch` leaves one run OUT of
    * the rewrite entirely (its rows are dropped, its directory is not
    * carried): the streaming twin passes its IN-FLIGHT runId here,
    * compacting only committed runs at the start of the micro-batch —
    * an uncommitted run is replayable, and its replay rewrites the
    * whole partition anyway, so merging (or keeping) a half-written
    * attempt would double its rows after the replay. */
  def compact(spark: SparkSession, indexDir: String,
      excludeBatch: Option[Long] = None): DedupIndex.CompactionStats =
    DedupIndex.rewriteAndSwap(spark, indexDir) { tmp =>
      // physical retirement of lazy tombstones: drop their rows from the
      // rewrite; the directory swap discards the `_tombstones` side
      // table along with the old layout, so the next serve needs no
      // anti-join work for them (no side table on disk = no anti-join)
      val afterTombs = readTombstonesOpt(spark, indexDir) match {
        case Some(tombs) => idFilter(readIndex(spark, indexDir), tombs,
          graft.core.Tables.parquetRowCount(spark,
              s"$indexDir/_tombstones")
            .getOrElse(tombs.count()), "left_anti", idRowCutoff(spark))
        case None => readIndex(spark, indexDir)
      }
      val live = excludeBatch.foldLeft(afterTombs) {
        (df, b) => df.filter(col("batch") =!= b)
      }
      live.drop("batch").withColumn("batch", lit(-1L))
        .repartition(math.min(COARSE_K,
          spark.sparkContext.defaultParallelism), col("cell"))
        .write.mode("overwrite").partitionBy("batch", "cell").parquet(tmp)
    }

  /** The persisted code table (empty relation before the first add).
    * Partition discovery resolves the `batch=<run>/cell=<c>` levels
    * against the explicit schema, so flat-empty, single-run and
    * compacted layouts all read uniformly. */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    DedupIndex.readOrEmpty(spark, indexDir, indexSchema)

  // ---- codebook persistence -------------------------------------------

  /** Persist both codebooks as `indexDir/_graft_meta` (text lines:
    * `C cell v,..` per coarse centroid, `P sub cell v,..` per
    * sub-centroid — ~k·d + M·K·subdim grid longs, bounded). A one-shot
    * exclusive create: an existing meta file (codebooks already
    * trained) throws. */
  private def writeMeta(spark: SparkSession, indexDir: String,
      coarse: Seq[(Int, Seq[Long])],
      subcents: Seq[(Int, Int, Seq[Long])]): Unit = {
    val path = new org.apache.hadoop.fs.Path(indexDir, "_graft_meta")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path))
      throw new IllegalStateException(
        s"IvfPqIndex at $indexDir already has trained codebooks; they are " +
          "frozen at create (admitted codes are encoded against them) — " +
          "retraining means building a new index")
    fs.mkdirs(path.getParent)
    metaCache.remove(indexDir): Unit // recycled path must re-read
    val sb = new StringBuilder
    coarse.foreach { case (cell, c) =>
      sb.append("C ").append(cell).append(' ')
        .append(c.mkString(",")).append('\n')
    }
    subcents.foreach { case (sub, cell, c) =>
      sb.append("P ").append(sub).append(' ').append(cell).append(' ')
        .append(c.mkString(",")).append('\n')
    }
    val out = fs.create(path, false)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Parsed-codebook cache: the meta file is IMMUTABLE once written
    * (create throws if it exists; add/forget/compact never touch it —
    * rewriteAndSwap byte-copies it), so one parse per (JVM, indexDir)
    * suffices — a serve-heavy cell paid an FS read + ~17k-line parse
    * per search before this. Bounded at 32 indexes, evicting the least
    * recently READ one (`accessOrder = true`; parsed codebooks are a
    * few hundred KB each); invalidated by writeMeta so re-creating an
    * index at a recycled path can never serve stale codebooks. */
  private val metaCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Codebooks](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Codebooks]): Boolean = size() > 32
    })

  private def readMeta(spark: SparkSession, indexDir: String): Codebooks = {
    val cached = metaCache.get(indexDir)
    if (cached != null) return cached
    val parsed = readMetaUncached(spark, indexDir)
    metaCache.put(indexDir, parsed)
    parsed
  }

  private def readMetaUncached(spark: SparkSession,
      indexDir: String): Codebooks = {
    val path = new org.apache.hadoop.fs.Path(indexDir, "_graft_meta")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path))
      throw new IllegalStateException(
        s"IvfPqIndex at $indexDir has no trained codebooks; call create() " +
          "with a training frame before add/search")
    val in = fs.open(path)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    val coarse = lines.filter(_.startsWith("C ")).map { l =>
      val Array(_, cell, vs) = l.split(" ", 3)
      cell.toInt -> vs.split(",").map(_.toLong).toSeq
    }
    val subcents = lines.filter(_.startsWith("P ")).map { l =>
      val Array(_, sub, cell, vs) = l.split(" ", 4)
      (sub.toInt, cell.toInt, vs.split(",").map(_.toLong).toSeq)
    }
    Codebooks(coarse, subcents)
  }

  // ---- registry -------------------------------------------------------

  /** Build the deterministic two-batch index: codebooks trained on
    * batch A ONLY (even vec_ids), then A and B (odd) admitted against
    * the frozen codebooks — so B is encoded by codebooks that never saw
    * it, the property that distinguishes this index from q93's
    * retrain-per-query composition. Fresh temp dir per invocation. */
  private def twoBatchIndex(s: SparkSession, dir: String): String = {
    val e = Tables(s, dir, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft-q97-idx")
      .resolve("index").toString
    val batchA = e.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding")
    val batchB = e.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
    // batch A is both the training frame and the first admission: grid
    // it once (spread + checkpoint) for create AND add (r18)
    val egA = Similarity.gridFrame(s, batchA)
    createFromGrid(s, idx, egA)
    addFromGrid(s, idx, egA, runId = 0L)
    add(s, idx, batchB, runId = 1L)
    idx
  }

  /** The split-training oracle CTEs: q81's coarse rounds and q93's
    * residual-PQ rounds, with every TRAINING aggregate restricted to
    * batch A (`vec_id % 2 = 0`) and the seeds taken as the smallest
    * training ids — while the final assignments `af` (coarse cells) and
    * `paf` (PQ codes) run over ALL vectors, mirroring add()'s
    * frozen-codebook encoding of both batches. Defines the same
    * pts/c2/af/rp/pc2/paf names as Similarity's full-corpus CTEs so
    * [[Similarity.pqMultiProbeSql]] composes unchanged on top. */
  private lazy val splitTrainSql =
    s"""pts AS (
      |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
      |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
      |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)),
      |cs AS (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0
      |       ORDER BY vec_id LIMIT $COARSE_K),
      |c0 AS (SELECT CAST(p.vec_id AS INTEGER) AS cell, p.dim, p.q AS c
      |       FROM pts p JOIN cs ON p.vec_id = cs.vec_id),
      |d1 AS (SELECT p.vec_id, c.cell,
      |         CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |       FROM pts p JOIN c0 c ON p.dim = c.dim
      |       WHERE p.vec_id % 2 = 0
      |       GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, cell FROM (
      |        SELECT vec_id, cell,
      |          row_number() OVER (PARTITION BY vec_id
      |            ORDER BY d2, cell) AS rn
      |        FROM d1) WHERE rn = 1),
      |c1 AS (SELECT cell, dim,
      |         (2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) // (2*n)
      |           AS c
      |       FROM (SELECT a.cell, p.dim, CAST(sum(p.q) AS BIGINT) AS s,
      |               CAST(count(*) AS BIGINT) AS n
      |             FROM pts p JOIN a1 a ON p.vec_id = a.vec_id
      |             GROUP BY 1, 2)),
      |d2r AS (SELECT p.vec_id, c.cell,
      |          CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |        FROM pts p JOIN c1 c ON p.dim = c.dim
      |        WHERE p.vec_id % 2 = 0
      |        GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, cell FROM (
      |        SELECT vec_id, cell,
      |          row_number() OVER (PARTITION BY vec_id
      |            ORDER BY d2, cell) AS rn
      |        FROM d2r) WHERE rn = 1),
      |c2 AS (SELECT cell, dim,
      |         (2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) // (2*n)
      |           AS c
      |       FROM (SELECT a.cell, p.dim, CAST(sum(p.q) AS BIGINT) AS s,
      |               CAST(count(*) AS BIGINT) AS n
      |             FROM pts p JOIN a2 a ON p.vec_id = a.vec_id
      |             GROUP BY 1, 2)),
      |df AS (SELECT p.vec_id, c.cell,
      |         CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |       FROM pts p JOIN c2 c ON p.dim = c.dim
      |       GROUP BY 1, 2),
      |af AS (SELECT vec_id, cell FROM (
      |        SELECT vec_id, cell,
      |          row_number() OVER (PARTITION BY vec_id
      |            ORDER BY d2, cell) AS rn
      |        FROM df) WHERE rn = 1),
      |rp AS (SELECT p.vec_id,
      |         CAST(p.dim // ${Similarity.PQ_SUBDIM} AS INTEGER) AS sub,
      |         p.dim, p.q - c.c AS q
      |       FROM pts p
      |       JOIN af a ON p.vec_id = a.vec_id
      |       JOIN c2 c ON c.cell = a.cell AND c.dim = p.dim),
      |ps AS (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0
      |       ORDER BY vec_id LIMIT ${Similarity.PQ_K}),
      |pc0 AS (SELECT r.sub, CAST(r.vec_id AS INTEGER) AS cell, r.dim,
      |          r.q AS c
      |        FROM rp r JOIN ps ON r.vec_id = ps.vec_id),
      |pd1 AS (SELECT p.vec_id, c.sub, c.cell,
      |          CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |        FROM rp p JOIN pc0 c ON p.dim = c.dim
      |        WHERE p.vec_id % 2 = 0
      |        GROUP BY 1, 2, 3),
      |pa1 AS (SELECT vec_id, sub, cell FROM (
      |         SELECT vec_id, sub, cell,
      |           row_number() OVER (PARTITION BY vec_id, sub
      |             ORDER BY d2, cell) AS rn
      |         FROM pd1) WHERE rn = 1),
      |pc1 AS (SELECT sub, cell, dim,
      |          (2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) // (2*n)
      |            AS c
      |        FROM (SELECT a.sub, a.cell, p.dim,
      |                CAST(sum(p.q) AS BIGINT) AS s,
      |                CAST(count(*) AS BIGINT) AS n
      |              FROM rp p
      |              JOIN pa1 a ON p.vec_id = a.vec_id AND p.sub = a.sub
      |              GROUP BY 1, 2, 3)),
      |pd2 AS (SELECT p.vec_id, c.sub, c.cell,
      |          CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |        FROM rp p JOIN pc1 c ON p.dim = c.dim
      |        WHERE p.vec_id % 2 = 0
      |        GROUP BY 1, 2, 3),
      |pa2 AS (SELECT vec_id, sub, cell FROM (
      |         SELECT vec_id, sub, cell,
      |           row_number() OVER (PARTITION BY vec_id, sub
      |             ORDER BY d2, cell) AS rn
      |         FROM pd2) WHERE rn = 1),
      |pc2 AS (SELECT sub, cell, dim,
      |          (2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) // (2*n)
      |            AS c
      |        FROM (SELECT a.sub, a.cell, p.dim,
      |                CAST(sum(p.q) AS BIGINT) AS s,
      |                CAST(count(*) AS BIGINT) AS n
      |              FROM rp p
      |              JOIN pa2 a ON p.vec_id = a.vec_id AND p.sub = a.sub
      |              GROUP BY 1, 2, 3)),
      |pdf AS (SELECT p.vec_id, c.sub, c.cell,
      |          CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |        FROM rp p JOIN pc2 c ON p.dim = c.dim
      |        GROUP BY 1, 2, 3),
      |paf AS (SELECT vec_id, sub, cell FROM (
      |         SELECT vec_id, sub, cell,
      |           row_number() OVER (PARTITION BY vec_id, sub
      |             ORDER BY d2, cell) AS rn
      |         FROM pdf) WHERE rn = 1)""".stripMargin

  /** Persisted-index CONTENTS under the full oracle gate: create on
    * batch A, add both batches, COMPACT (layout change must be
    * content-invariant, q92's discipline), then hold every vector's
    * coarse cell and all 32 PQ codes to the split-training oracle. A
    * single drifted code anywhere in the table breaks the hash. */
  private val q97IvfPqIndex = QueryDef(
    (s, dir) => {
      val idx = twoBatchIndex(s, dir)
      compact(s, idx)
      readIndex(s, idx)
        .select(col("vec_id"), col("cell"),
          posexplode(col("codes")).as(Seq("sub", "code")))
        .orderBy("vec_id", "sub")
    },
    s"""WITH $splitTrainSql
      |SELECT f.vec_id, a.cell, f.sub, f.cell AS code
      |FROM paf f JOIN af a ON f.vec_id = a.vec_id
      |ORDER BY f.vec_id, f.sub""")

  /** Persisted-index SEARCH under the full oracle gate: q96's nprobe=2
    * multi-probe ADC serve, but from the frozen on-disk codebooks and
    * code table (batch B scored by codebooks that never saw it). The
    * oracle composes Similarity.pqMultiProbeSql unchanged over the
    * split-training CTEs — same serve algebra, different training
    * population. */
  private val q98IvfPqIndexSearch = QueryDef(
    (s, dir) => {
      val idx = twoBatchIndex(s, dir)
      val queries = Tables(s, dir, "embeddings")
        .filter(col("vec_id") < 10)
        .select("vec_id", "embedding")
      search(s, idx, queries, k = 5, nprobe = 2)
    },
    s"""WITH $splitTrainSql,
      |${Similarity.pqMultiProbeSql}
      |SELECT q_id, n_id, adist,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY adist, n_id) AS rk
      |FROM madc QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** SPLIT-TRAINING acceptance row — the number a team reads before
    * adopting train-once/add-forever: q94 prices quantization and
    * probing with codebooks trained on the FULL corpus (recall_pq2),
    * but a persisted index trains on whatever sample existed at create
    * time. This row serves the two-batch index (codebooks from batch A
    * alone) at nprobe=2 against the exact grid-L2 top-5 ground truth —
    * recall_split vs q94's recall_pq2 IS the sample-training cost,
    * measured, not assumed. Same BIGINT/tie-break discipline as q94;
    * the ground-truth broadcast NLJ and one-row combine are the
    * PlanGuard-allowlisted instrument shapes. */
  private val q99IvfPqSplitRecall = QueryDef(
    (s, dir) => {
      val idx = twoBatchIndex(s, dir)
      val e = Tables(s, dir, "embeddings")
      val served = search(s, idx,
          e.filter(col("vec_id") < 10).select("vec_id", "embedding"),
          k = 5, nprobe = 2)
        .select("q_id", "n_id")
      val eg = Similarity.gridFrame(s, e)
      val q = eg.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qa").as("q_qa"))
      // native kernel: the exact ground truth is a full corpus x queries
      // scan — the hottest site in this file
      val d2 = graft.functions.LongVec.l2(col("qa"), col("q_qa"))
      val exact = eg.select(col("vec_id").as("n_id"), col("qa"))
        .join(broadcast(q), col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), d2.as("adist"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("q_id").orderBy(asc("adist"), asc("n_id"))))
        .filter(col("rk") <= 5)
        .select("q_id", "n_id")
      val hits = served.join(exact, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("hits_split"))
      q.agg(count(lit(1)).as("n_queries"))
        .crossJoin(broadcast(hits))
        .select(col("n_queries"), col("hits_split"),
          (col("hits_split").cast("double") / (col("n_queries") * 5))
            .as("recall_split"))
    },
    s"""WITH $splitTrainSql,
      |${Similarity.pqMultiProbeSql},
      |gd AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |         CAST(sum((b.q - a.q) * (b.q - a.q)) AS BIGINT) AS adist
      |       FROM pts a JOIN pts b ON a.dim = b.dim
      |       WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
      |       GROUP BY 1, 2),
      |ex AS (SELECT q_id, n_id FROM (
      |        SELECT q_id, n_id,
      |          row_number() OVER (PARTITION BY q_id
      |            ORDER BY adist, n_id) AS rk
      |        FROM gd) WHERE rk <= 5),
      |mps AS (SELECT q_id, n_id FROM (
      |         SELECT q_id, n_id,
      |           row_number() OVER (PARTITION BY q_id
      |             ORDER BY adist, n_id) AS rk
      |         FROM madc) WHERE rk <= 5)
      |SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 10)
      |         AS BIGINT) AS n_queries,
      |       CAST((SELECT count(*) FROM ex JOIN mps USING (q_id, n_id))
      |         AS BIGINT) AS hits_split,
      |       CAST((SELECT count(*) FROM ex JOIN mps USING (q_id, n_id))
      |           AS DOUBLE) /
      |         ((SELECT count(*) FROM embeddings WHERE vec_id < 10) * 5)
      |         AS recall_split""")

  /** The COMPLETE production serve: persisted-index ADC shortlist +
    * exact refine fetched from the SOURCE table. The index stores only
    * M-int codes (that is its point), so q100's re-rank stage cannot
    * read raw vectors from it — a deployed serve keeps the embedding
    * table as the source of truth and fetches the ≤ queries·20
    * shortlist rows BY ID at refine time (broadcast id-equi join, raw
    * vector traffic ∝ shortlist, never corpus). This is the
    * q98-then-q100 composition a user actually runs: cheap quantized
    * candidate generation from disk, exact ordering for the rows that
    * matter. Output carries adist (the index's belief) and d2 (the
    * refined truth). */
  private val q104IvfPqIndexRerank = QueryDef(
    (s, dir) => {
      val idx = twoBatchIndex(s, dir)
      val e = Tables(s, dir, "embeddings")
      val shortlist = search(s, idx,
          e.filter(col("vec_id") < 10).select("vec_id", "embedding"),
          k = 20, nprobe = 2)
        .select("q_id", "n_id", "adist")
      val eg = Similarity.gridFrame(s, e)
      val q = eg.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qa").as("q_qa"))
      val wEx = Window.partitionBy("q_id").orderBy(asc("d2"), asc("n_id"))
      eg.select(col("vec_id").as("n_id"), col("qa"))
        .join(broadcast(shortlist), Seq("n_id"))
        .join(broadcast(q), Seq("q_id"))
        .withColumn("d2",
          graft.functions.LongVec.l2(col("qa"), col("q_qa")))
        .withColumn("rk", row_number().over(wEx))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"), col("adist"), col("d2"),
          col("rk").cast("long").as("rk"))
        .orderBy("q_id", "rk")
    },
    s"""WITH $splitTrainSql,
      |${Similarity.pqMultiProbeSql},
      |sl AS (SELECT q_id, n_id, adist FROM (
      |        SELECT q_id, n_id, adist,
      |          row_number() OVER (PARTITION BY q_id
      |            ORDER BY adist, n_id) AS ark
      |        FROM madc) WHERE ark <= 20),
      |rr AS (SELECT sl.q_id, sl.n_id, sl.adist,
      |         CAST(sum((b.q - a.q) * (b.q - a.q)) AS BIGINT) AS d2
      |       FROM sl
      |       JOIN pts a ON a.vec_id = sl.q_id
      |       JOIN pts b ON b.vec_id = sl.n_id AND b.dim = a.dim
      |       GROUP BY 1, 2, 3)
      |SELECT q_id, n_id, adist, d2,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY d2, n_id) AS rk
      |FROM rr QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** TOMBSTONE FORGET on the persisted ANN index, both delete states
    * under one gate: build the two-batch index, forget every vec_id%7==0,
    * then serve the SAME queries twice — phase 0 against the LAZY state
    * (tombstones suppress at serve via the anti-join) and phase 1 after
    * a compaction (rows physically gone, side table retired). Both
    * phases must hash-equal the oracle's exclusion serve — q98's full
    * serve algebra with the tombstoned candidates removed BEFORE the
    * per-query ranking window (a forgotten near-neighbor must PROMOTE
    * the next candidate into the top-5, not leave a hole). The
    * lazy-serve frame is localCheckpoint-ed before compact mutates the
    * directory, the q116 evaluation-order discipline. */
  private val q127IndexForgetServe = QueryDef(
    (s, dir) => {
      val idx = twoBatchIndex(s, dir)
      val e = Tables(s, dir, "embeddings")
      forget(s, idx, e.filter(col("vec_id") % 7 === 0).select("vec_id"))
      val queries = e.filter(col("vec_id") < 10)
        .select("vec_id", "embedding")
      val lazyServe = search(s, idx, queries, k = 5, nprobe = 2)
        .withColumn("phase", lit(0L))
        .localCheckpoint(true)
      compact(s, idx)
      val physServe = search(s, idx, queries, k = 5, nprobe = 2)
        .withColumn("phase", lit(1L))
      lazyServe.unionByName(physServe).orderBy("phase", "q_id", "rk")
    },
    s"""WITH $splitTrainSql,
      |${Similarity.pqMultiProbeSql},
      |serve AS (
      |  SELECT q_id, n_id, adist,
      |         row_number() OVER (PARTITION BY q_id
      |           ORDER BY adist, n_id) AS rk
      |  FROM madc WHERE n_id % 7 <> 0 QUALIFY rk <= 5)
      |SELECT q_id, n_id, adist, rk, CAST(0 AS BIGINT) AS phase FROM serve
      |UNION ALL
      |SELECT q_id, n_id, adist, rk, CAST(1 AS BIGINT) AS phase FROM serve
      |ORDER BY phase, q_id, rk""")

  /** METADATA-FILTERED persisted-index serve under the full oracle
    * gate — q102's pre-filter discipline (filter, THEN rank: never
    * under-return k) applied to the ANN index instead of the exact
    * scan: serve the q98 queries with candidates restricted to
    * label < 5 (~half the corpus, both labels live at every scale
    * factor). The oracle restricts madc's candidates by the SAME
    * metadata subquery before the ranking window, so a filtered-out
    * near neighbor must PROMOTE the next allowed candidate into the
    * top-5 — the property a post-filtered unfiltered top-k gets
    * wrong. */
  private val q128IvfPqFilteredSearch = QueryDef(
    (s, dir) => {
      val idx = twoBatchIndex(s, dir)
      val e = Tables(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
        .select("vec_id", "embedding")
      searchFiltered(s, idx, queries,
        allowedIds = e.filter(col("label") < 5).select("vec_id"),
        k = 5, nprobe = 2)
    },
    s"""WITH $splitTrainSql,
      |${Similarity.pqMultiProbeSql}
      |SELECT q_id, n_id, adist,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY adist, n_id) AS rk
      |FROM madc
      |WHERE n_id IN (SELECT vec_id FROM embeddings WHERE label < 5)
      |QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** FILTERED-serve acceptance row (q94/q99's discipline for q128):
    * one BIGINT-exact row pricing the pre-filter serve against the
    * EXACT filtered ground truth (grid-L2 top-5 among allowed ids) —
    * recall_filtered is what index pruning + quantization cost under
    * the predicate — AND against the post-filter strawman:
    * post_returned counts how many results filtering the UNFILTERED
    * top-5 after the fact would have kept. pre_returned == 5·queries
    * while post_returned falls short — the under-return q128's
    * pre-filter semantics exist to prevent, measured instead of
    * asserted.
    *
    * The row ALSO prices the [[searchFilteredAdaptive]] over-fetch:
    * nprobe_adaptive is the escalated width the inverse-selectivity
    * policy picks (the oracle re-derives it in SQL from the same
    * counts, proving policy parity), recall_adaptive is what the
    * escalation buys back over recall_filtered, and cand_filtered vs
    * cand_adaptive is what it costs — ADC-scored candidate rows at
    * each width. Recall recovered AND paid for in one row. Same
    * instrument shapes as q99 (broadcast ground-truth NLJ, one-row
    * combine). */
  private val q129FilteredRecall = QueryDef(
    (s, dir) => {
      val idx = steadyIndex(s, dir)
      val e = Tables(s, dir, "embeddings")
      val allowed = e.filter(col("label") < 5).select("vec_id")
      val nAllowed = allowed.count()
      val np = adaptiveNprobe(2, nAllowed,
        graft.core.Tables.parquetRowCount(s, idx)
          .getOrElse(readIndex(s, idx).count()))
      val queries = e.filter(col("vec_id") < 10)
        .select("vec_id", "embedding")
      // the served top-5 at each probe width, and the candidates the
      // relational scoring stage counts at the same width
      val scoredF = scoredCandidates(s, idx, queries, 2,
        Some((allowed, nAllowed)))
      val scoredA = scoredCandidates(s, idx, queries, np,
        Some((allowed, nAllowed)))
      val servedF = serve(s, idx, queries, 5, 2, Some((allowed, nAllowed)))
        .select("q_id", "n_id")
      val servedA = serve(s, idx, queries, 5, np, Some((allowed, nAllowed)))
        .select("q_id", "n_id")
      val servedU = search(s, idx, queries, k = 5, nprobe = 2)
        .select("q_id", "n_id")
      val eg = Similarity.gridFrame(s, e)
      val q = eg.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qa").as("q_qa"))
      val d2 = graft.functions.LongVec.l2(col("qa"), col("q_qa"))
      val exactF = eg.select(col("vec_id").as("n_id"), col("qa"))
        .join(broadcast(allowed.withColumnRenamed("vec_id", "n_id")),
          Seq("n_id"), "left_semi")
        .join(broadcast(q), col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), d2.as("adist"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("q_id").orderBy(asc("adist"), asc("n_id"))))
        .filter(col("rk") <= 5)
        .select("q_id", "n_id")
      val hits = servedF.join(exactF, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("hits_filtered"))
      val hitsA = servedA.join(exactF, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("hits_adaptive"))
      val pre = servedF.agg(count(lit(1)).as("pre_returned"))
      val post = servedU
        .join(broadcast(allowed.withColumnRenamed("vec_id", "n_id")),
          Seq("n_id"), "left_semi")
        .agg(count(lit(1)).as("post_returned"))
      val candF = scoredF.agg(count(lit(1)).as("cand_filtered"))
      val candA = scoredA.agg(count(lit(1)).as("cand_adaptive"))
      q.agg(count(lit(1)).as("n_queries"))
        .crossJoin(broadcast(hits))
        .crossJoin(broadcast(pre))
        .crossJoin(broadcast(post))
        .crossJoin(broadcast(candF))
        .crossJoin(broadcast(hitsA))
        .crossJoin(broadcast(candA))
        .select(col("n_queries"), col("hits_filtered"),
          col("pre_returned"), col("post_returned"),
          (col("hits_filtered").cast("double") / (col("n_queries") * 5))
            .as("recall_filtered"),
          col("cand_filtered"), lit(np.toLong).as("nprobe_adaptive"),
          col("cand_adaptive"), col("hits_adaptive"),
          (col("hits_adaptive").cast("double") / (col("n_queries") * 5))
            .as("recall_adaptive"))
    },
    s"""WITH $splitTrainSql,
      |${Similarity.pqMultiProbeSql},
      |alw AS (SELECT vec_id FROM embeddings WHERE label < 5),
      |sel AS (SELECT LEAST($COARSE_K, 2 * CAST(ceil(
      |          CAST((SELECT count(*) FROM embeddings) AS DOUBLE)
      |            / (SELECT count(*) FROM alw)) AS INTEGER)) AS np),
      |${Similarity.pqMultiProbeSqlAt("(SELECT np FROM sel)", "4")},
      |mf AS (SELECT q_id, n_id FROM (
      |        SELECT q_id, n_id,
      |          row_number() OVER (PARTITION BY q_id
      |            ORDER BY adist, n_id) AS rk
      |        FROM madc WHERE n_id IN (SELECT vec_id FROM alw))
      |       WHERE rk <= 5),
      |mf4 AS (SELECT q_id, n_id FROM (
      |         SELECT q_id, n_id,
      |           row_number() OVER (PARTITION BY q_id
      |             ORDER BY adist, n_id) AS rk
      |         FROM madc4 WHERE n_id IN (SELECT vec_id FROM alw))
      |        WHERE rk <= 5),
      |mu AS (SELECT q_id, n_id FROM (
      |        SELECT q_id, n_id,
      |          row_number() OVER (PARTITION BY q_id
      |            ORDER BY adist, n_id) AS rk
      |        FROM madc) WHERE rk <= 5),
      |gdf AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |          CAST(sum((b.q - a.q) * (b.q - a.q)) AS BIGINT) AS adist
      |        FROM pts a JOIN pts b ON a.dim = b.dim
      |        WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
      |          AND b.vec_id IN (SELECT vec_id FROM alw)
      |        GROUP BY 1, 2),
      |exf AS (SELECT q_id, n_id FROM (
      |         SELECT q_id, n_id,
      |           row_number() OVER (PARTITION BY q_id
      |             ORDER BY adist, n_id) AS rk
      |         FROM gdf) WHERE rk <= 5)
      |SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 10)
      |         AS BIGINT) AS n_queries,
      |       CAST((SELECT count(*) FROM exf JOIN mf USING (q_id, n_id))
      |         AS BIGINT) AS hits_filtered,
      |       CAST((SELECT count(*) FROM mf) AS BIGINT) AS pre_returned,
      |       CAST((SELECT count(*) FROM mu
      |             WHERE n_id IN (SELECT vec_id FROM alw))
      |         AS BIGINT) AS post_returned,
      |       CAST((SELECT count(*) FROM exf JOIN mf USING (q_id, n_id))
      |           AS DOUBLE) /
      |         ((SELECT count(*) FROM embeddings WHERE vec_id < 10) * 5)
      |         AS recall_filtered,
      |       CAST((SELECT count(*) FROM madc
      |             WHERE n_id IN (SELECT vec_id FROM alw))
      |         AS BIGINT) AS cand_filtered,
      |       CAST((SELECT np FROM sel) AS BIGINT) AS nprobe_adaptive,
      |       CAST((SELECT count(*) FROM madc4
      |             WHERE n_id IN (SELECT vec_id FROM alw))
      |         AS BIGINT) AS cand_adaptive,
      |       CAST((SELECT count(*) FROM exf JOIN mf4 USING (q_id, n_id))
      |         AS BIGINT) AS hits_adaptive,
      |       CAST((SELECT count(*) FROM exf JOIN mf4 USING (q_id, n_id))
      |           AS DOUBLE) /
      |         ((SELECT count(*) FROM embeddings WHERE vec_id < 10) * 5)
      |         AS recall_adaptive""")

  /** FILTERED serve, EXACT-RERANK tier — the top of the filtered
    * quality ladder q129 prices: [[searchFilteredAdaptive]] over-fetches
    * a 20-candidate ADC shortlist under the predicate (inverse-
    * selectivity probe escalation), then the q104 by-id exact tier
    * re-ranks it against the SOURCE embedding table and keeps the top
    * 5 by true grid-L2. This recovers the quantization loss no probe
    * width can buy back (q129: adaptive probing plateaus at the 0.68
    * full-probe ceiling; the rest of the gap to exact is ADC error) —
    * at a raw-vector fetch cost of ≤ 20·queries rows by id, never a
    * corpus scan. The oracle composes the adaptive-width CTEs (policy
    * re-derived in SQL from the same counts), the allowed filter, and
    * q104's re-rank restatement — the full composition hash-gated, not
    * just its pieces. q132 prices what this tier buys. */
  private val q131FilteredRerank = QueryDef(
    (s, dir) => {
      val idx = steadyIndex(s, dir)
      val e = Tables(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
        .select("vec_id", "embedding")
      val allowed = e.filter(col("label") < 5).select("vec_id")
      val shortlist = searchFilteredAdaptive(s, idx, queries, allowed,
          k = 20, nprobe = 2)
        .select("q_id", "n_id", "adist")
      val eg = Similarity.gridFrame(s, e)
      val q = eg.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qa").as("q_qa"))
      val wEx = Window.partitionBy("q_id").orderBy(asc("d2"), asc("n_id"))
      eg.select(col("vec_id").as("n_id"), col("qa"))
        .join(broadcast(shortlist), Seq("n_id"))
        .join(broadcast(q), Seq("q_id"))
        .withColumn("d2",
          graft.functions.LongVec.l2(col("qa"), col("q_qa")))
        .withColumn("rk", row_number().over(wEx))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"), col("adist"), col("d2"),
          col("rk").cast("long").as("rk"))
        .orderBy("q_id", "rk")
    },
    s"""WITH $splitTrainSql,
      |alw AS (SELECT vec_id FROM embeddings WHERE label < 5),
      |sel AS (SELECT LEAST($COARSE_K, 2 * CAST(ceil(
      |          CAST((SELECT count(*) FROM embeddings) AS DOUBLE)
      |            / (SELECT count(*) FROM alw)) AS INTEGER)) AS np),
      |${Similarity.pqMultiProbeSqlAt("(SELECT np FROM sel)", "4")},
      |sl AS (SELECT q_id, n_id, adist FROM (
      |        SELECT q_id, n_id, adist,
      |          row_number() OVER (PARTITION BY q_id
      |            ORDER BY adist, n_id) AS ark
      |        FROM madc4 WHERE n_id IN (SELECT vec_id FROM alw))
      |       WHERE ark <= 20),
      |rr AS (SELECT sl.q_id, sl.n_id, sl.adist,
      |         CAST(sum((b.q - a.q) * (b.q - a.q)) AS BIGINT) AS d2
      |       FROM sl
      |       JOIN pts a ON a.vec_id = sl.q_id
      |       JOIN pts b ON b.vec_id = sl.n_id AND b.dim = a.dim
      |       GROUP BY 1, 2, 3)
      |SELECT q_id, n_id, adist, d2,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY d2, n_id) AS rk
      |FROM rr QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** The acceptance row for [[q131FilteredRerank]] — completes the
    * filtered recall ladder q129 opened, every rung priced in the same
    * BIGINT discipline: recall_filtered 0.56 (fixed nprobe=2) →
    * recall_adaptive 0.64 (escalated probing, 2× candidates) →
    * recall_rerank 0.86 at sf0.01 (this row: exact re-rank of the
    * adaptive 20-deep shortlist — past the 0.68 full-probe ADC
    * ceiling, i.e. the quantization loss bought back), with the two
    * costs that bought it side by side —
    * cand_adaptive ADC-scored rows and shortlist_fetched raw vectors
    * fetched by id (≤ 20·queries — the by-id tier's whole bill; a
    * post-hoc exact pass over the corpus would be |corpus|·queries).
    * The shortlist is the fused adaptive-width serve, the candidate
    * count the relational scoring stage at the same width; ground truth
    * is q129's exact filtered grid-L2 top-5. */
  private val q132FilteredRerankRecall = QueryDef(
    (s, dir) => {
      val idx = steadyIndex(s, dir)
      val e = Tables(s, dir, "embeddings")
      val allowed = e.filter(col("label") < 5).select("vec_id")
      val nAllowed = allowed.count()
      val np = adaptiveNprobe(2, nAllowed,
        graft.core.Tables.parquetRowCount(s, idx)
          .getOrElse(readIndex(s, idx).count()))
      val queries = e.filter(col("vec_id") < 10)
        .select("vec_id", "embedding")
      val scoredA = scoredCandidates(s, idx, queries, np,
        Some((allowed, nAllowed)))
      val shortlist = serve(s, idx, queries, 20, np,
        Some((allowed, nAllowed))).select("q_id", "n_id")
      val eg = Similarity.gridFrame(s, e)
      val q = eg.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qa").as("q_qa"))
      val d2 = graft.functions.LongVec.l2(col("qa"), col("q_qa"))
      val served = eg.select(col("vec_id").as("n_id"), col("qa"))
        .join(broadcast(shortlist), Seq("n_id"))
        .join(broadcast(q), Seq("q_id"))
        .withColumn("d2v", d2)
        .withColumn("rk", row_number().over(
          Window.partitionBy("q_id").orderBy(asc("d2v"), asc("n_id"))))
        .filter(col("rk") <= 5)
        .select("q_id", "n_id")
      val exactF = eg.select(col("vec_id").as("n_id"), col("qa"))
        .join(broadcast(allowed.withColumnRenamed("vec_id", "n_id")),
          Seq("n_id"), "left_semi")
        .join(broadcast(q), col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), d2.as("adist"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("q_id").orderBy(asc("adist"), asc("n_id"))))
        .filter(col("rk") <= 5)
        .select("q_id", "n_id")
      val hits = served.join(exactF, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("hits_rerank"))
      val candA = scoredA.agg(count(lit(1)).as("cand_adaptive"))
      val fetched = shortlist.agg(count(lit(1)).as("shortlist_fetched"))
      q.agg(count(lit(1)).as("n_queries"))
        .crossJoin(broadcast(hits))
        .crossJoin(broadcast(candA))
        .crossJoin(broadcast(fetched))
        .select(col("n_queries"), lit(np.toLong).as("nprobe_adaptive"),
          col("cand_adaptive"), col("shortlist_fetched"),
          col("hits_rerank"),
          (col("hits_rerank").cast("double") / (col("n_queries") * 5))
            .as("recall_rerank"))
    },
    s"""WITH $splitTrainSql,
      |alw AS (SELECT vec_id FROM embeddings WHERE label < 5),
      |sel AS (SELECT LEAST($COARSE_K, 2 * CAST(ceil(
      |          CAST((SELECT count(*) FROM embeddings) AS DOUBLE)
      |            / (SELECT count(*) FROM alw)) AS INTEGER)) AS np),
      |${Similarity.pqMultiProbeSqlAt("(SELECT np FROM sel)", "4")},
      |sl AS (SELECT q_id, n_id FROM (
      |        SELECT q_id, n_id,
      |          row_number() OVER (PARTITION BY q_id
      |            ORDER BY adist, n_id) AS ark
      |        FROM madc4 WHERE n_id IN (SELECT vec_id FROM alw))
      |       WHERE ark <= 20),
      |rr AS (SELECT sl.q_id, sl.n_id,
      |         CAST(sum((b.q - a.q) * (b.q - a.q)) AS BIGINT) AS d2
      |       FROM sl
      |       JOIN pts a ON a.vec_id = sl.q_id
      |       JOIN pts b ON b.vec_id = sl.n_id AND b.dim = a.dim
      |       GROUP BY 1, 2),
      |rr5 AS (SELECT q_id, n_id FROM (
      |         SELECT q_id, n_id,
      |           row_number() OVER (PARTITION BY q_id
      |             ORDER BY d2, n_id) AS rk
      |         FROM rr) WHERE rk <= 5),
      |gdf AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |          CAST(sum((b.q - a.q) * (b.q - a.q)) AS BIGINT) AS adist
      |        FROM pts a JOIN pts b ON a.dim = b.dim
      |        WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
      |          AND b.vec_id IN (SELECT vec_id FROM alw)
      |        GROUP BY 1, 2),
      |exf AS (SELECT q_id, n_id FROM (
      |         SELECT q_id, n_id,
      |           row_number() OVER (PARTITION BY q_id
      |             ORDER BY adist, n_id) AS rk
      |         FROM gdf) WHERE rk <= 5)
      |SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 10)
      |         AS BIGINT) AS n_queries,
      |       CAST((SELECT np FROM sel) AS BIGINT) AS nprobe_adaptive,
      |       CAST((SELECT count(*) FROM madc4
      |             WHERE n_id IN (SELECT vec_id FROM alw))
      |         AS BIGINT) AS cand_adaptive,
      |       CAST((SELECT count(*) FROM sl) AS BIGINT)
      |         AS shortlist_fetched,
      |       CAST((SELECT count(*) FROM exf JOIN rr5 USING (q_id, n_id))
      |         AS BIGINT) AS hits_rerank,
      |       CAST((SELECT count(*) FROM exf JOIN rr5 USING (q_id, n_id))
      |           AS DOUBLE) /
      |         ((SELECT count(*) FROM embeddings WHERE vec_id < 10) * 5)
      |         AS recall_rerank""")

  /** CELL-BALANCE instrument for the persisted index — the operational
    * number behind every serve-cost claim: candidates/query ≈
    * nprobe/COARSE_K · corpus (measured at exponent 1.00 by
    * tools.ScaleProbe) holds only as well as the coarse quantizer
    * balances its cells, and a degenerate training sample (all-dup
    * batch, adversarial skew) silently concentrates the corpus into
    * few cells — every serve probing a hot cell then scans a multiple
    * of the expected candidates, the ANN analog of a skewed shuffle
    * key. One BIGINT row from one group-by over the code table:
    * occupancy extremes plus skew_micro = max_cell · n_cells · 10^6 /
    * total (fixed-point max/mean ratio; 10^6 = perfectly balanced). An
    * operator reads it after create/compact the way q123 prices
    * compaction — a regression here says retrain, before the serve
    * tail says it expensively. sf0.01 measures skew_micro 1248000
    * (max cell 78 of 500 over 8 cells, 1.25× the balanced mean):
    * Lloyd holding a real corpus near-balanced — and the row is what
    * says so, instead of an assumption. */
  private val q133CellBalance = QueryDef(
    (s, dir) => {
      val idx = steadyIndex(s, dir)
      readIndex(s, idx)
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_cells"), sum("n").as("total_rows"),
          max("n").as("max_cell"), min("n").as("min_cell"))
        .select(col("n_cells"), col("total_rows"), col("max_cell"),
          col("min_cell"),
          expr("max_cell * n_cells * 1000000L div total_rows")
            .as("skew_micro"))
    },
    s"""WITH $splitTrainSql,
      |occ AS (SELECT cell, count(*) AS n FROM af GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_cells,
      |       CAST(sum(n) AS BIGINT) AS total_rows,
      |       CAST(max(n) AS BIGINT) AS max_cell,
      |       CAST(min(n) AS BIGINT) AS min_cell,
      |       CAST(max(n) * count(*) * 1000000 // sum(n) AS BIGINT)
      |         AS skew_micro
      |FROM occ""")

  /** Per-JVM memo of the two-batch index, keyed by fixture dir — the
    * lifecycle/serve split q130 exists to measure: every other ANN
    * bench cell deliberately pays create+add+add inside the timed
    * region (the lifecycle IS those queries' subject), so the headline
    * number conflates build cost with the latency a deployed serve
    * actually exhibits. q130 builds here ONCE per JVM (Bench's warmup
    * pass pays it; Verify pays it once) and its measured passes then
    * time nothing but steady-state serves. The READ-ONLY acceptance
    * instruments (q129/q131/q132/q133) share the memo for the same
    * reason — their subject is recall/cost/balance, and a rebuild per
    * invocation would re-conflate exactly what q130 separated; the
    * lifecycle queries (q97/q98/q99/q104/q127/q128) keep paying their
    * own fresh build, because the lifecycle IS their subject — and
    * q127 MUTATES its index (forget/compact), which a shared memo must
    * never see. */
  private val steadyIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def steadyIndex(s: SparkSession, dir: String): String =
    steadyIdxCache.computeIfAbsent(dir, _ => twoBatchIndex(s, dir))

  /** STEADY-STATE serve row — what a 100×-deployment operator waits
    * on: five repeated q98 serves against the memoized index, each
    * FORCED eagerly (localCheckpoint) so every round pays the full
    * scan→fused-ADC→merge pipeline as its own job — exchange reuse
    * cannot collapse the rounds into one, and the bench cell divided
    * by five IS the per-serve latency (min-of-passes never sees the
    * build, which the warmup's cache miss absorbed). Output is the
    * q98 result × 5 rounds — fully deterministic, full oracle gate. */
  private val q130ServeSteady = QueryDef(
    (s, dir) => {
      val idx = steadyIndex(s, dir)
      val queries = Tables(s, dir, "embeddings")
        .filter(col("vec_id") < 10)
        .select("vec_id", "embedding")
      (0 until 5).map { r =>
        search(s, idx, queries, k = 5, nprobe = 2)
          .withColumn("serve_round", lit(r.toLong))
          .localCheckpoint(true)
      }.reduce(_.unionByName(_)).orderBy("serve_round", "q_id", "rk")
    },
    s"""WITH $splitTrainSql,
      |${Similarity.pqMultiProbeSql},
      |serve AS (
      |  SELECT q_id, n_id, adist,
      |         row_number() OVER (PARTITION BY q_id
      |           ORDER BY adist, n_id) AS rk
      |  FROM madc QUALIFY rk <= 5)
      |SELECT s.q_id, s.n_id, s.adist, s.rk,
      |       CAST(r.serve_round AS BIGINT) AS serve_round
      |FROM serve s
      |CROSS JOIN (SELECT UNNEST(generate_series(0, 4)) AS serve_round) r
      |ORDER BY serve_round, q_id, rk""")

  val defs: Map[String, QueryDef] = Map(
    "q97_ivfpq_index" -> q97IvfPqIndex,
    "q98_ivfpq_index_search" -> q98IvfPqIndexSearch,
    "q99_ivfpq_split_recall" -> q99IvfPqSplitRecall,
    "q104_ivfpq_index_rerank" -> q104IvfPqIndexRerank,
    "q127_index_forget_serve" -> q127IndexForgetServe,
    "q128_ivfpq_filtered_search" -> q128IvfPqFilteredSearch,
    "q129_filtered_recall" -> q129FilteredRecall,
    "q130_serve_steady" -> q130ServeSteady,
    "q131_filtered_rerank" -> q131FilteredRerank,
    "q132_filtered_rerank_recall" -> q132FilteredRerankRecall,
    "q133_cell_balance" -> q133CellBalance,
  )
}

/** An index's parsed codebooks. `coarse` and `subcents` are the forms
  * the relational encoders plant as literals; the flat arrays are what
  * the fused serve ([[AdcScan]]) ships to its tasks:
  *  - coarse cell `cellIds(i)` has centroid `cellCents(i·d until (i+1)·d)`;
  *  - sub-codebook entries are sorted by (sub, code): sub m owns the
  *    entries `subOff(m) until subOff(m+1)`, and entry e is code
  *    `codeIds(e)` with centroid `subCents(e·PQ_SUBDIM until
  *    (e+1)·PQ_SUBDIM)`. Code ids are the seed vectors' ids, not 0..K-1,
  *    and a sub keeps only its non-empty cells, hence the search. */
private[ext] final case class Codebooks(coarse: Seq[(Int, Seq[Long])],
    subcents: Seq[(Int, Int, Seq[Long])]) {
  val cellIds: Array[Int] = coarse.map(_._1).toArray
  val cellCents: Array[Long] = coarse.flatMap(_._2).toArray
  private val entries = subcents.sortBy(t => (t._1, t._2))
  val codeIds: Array[Int] = entries.map(_._2).toArray
  val subCents: Array[Long] = entries.flatMap(_._3).toArray
  val subOff: Array[Int] =
    Array.tabulate(Similarity.PQ_M + 1)(m => entries.count(_._1 < m))
}

/** The fused IVFADC serve of one query batch ([[IvfPqIndex.serve]]).
  * Probe p belongs to query `probeQ(p)` (id `qIds(probeQ(p))`), probes
  * cell `probeCell(p)`, and has residual `resid(p·d until (p+1)·d)`.
  * A task ships only these and the flat sub-codebook: q·nprobe·d +
  * M·K·subdim longs, never a LUT. */
private[ext] final class AdcScan(qIds: Array[Long], probeQ: Array[Int],
    probeCell: Array[Int], resid: Array[Long], d: Int, subdim: Int,
    codeIds: Array[Int], subCents: Array[Long], subOff: Array[Int], k: Int)
    extends Serializable {

  /** The distinct probed cells: the code scan's partition filter. */
  def cells: Seq[Int] = probeCell.distinct.toSeq

  /** One scan task: each (vec_id, cell, codes) row is scored against
    * the queries probing its cell as Σₘ LUT[m][codes(m)] — the same
    * exact sum as the relational (sub, code, p_cell) join — skipping a
    * query's own id, into a k-bounded heap per query. Emits the heaps
    * as (q_id, n_id, adist). LUTs are built per probe on first use. */
  def topK(rows: Iterator[(Long, Int, Array[Int])])
      : Iterator[(Long, Long, Long)] = {
    val byCell = probeCell.indices.groupBy(probeCell(_))
      .map { case (c, ps) => c -> ps.toArray }
    val luts = new Array[Array[Long]](probeCell.length)
    val heaps = Array.fill(qIds.length)(new AdcScan.TopK(k))
    val ent = new Array[Int](subOff.length - 1)
    // the scan is pruned to the probed cells: every row's cell has probes
    rows.foreach { case (nId, cell, codes) =>
      var m = 0
      while (m < codes.length) { ent(m) = entry(m, codes(m)); m += 1 }
      byCell(cell).foreach { p =>
        val q = probeQ(p)
        if (nId != qIds(q)) {
          if (luts(p) == null) luts(p) = lut(p)
          val t = luts(p)
          var s = 0L
          m = 0
          while (m < codes.length) { s += t(ent(m)); m += 1 }
          heaps(q).offer(s, nId)
        }
      }
    }
    heaps.indices.iterator.flatMap(q =>
      heaps(q).sorted.iterator.map { case (s, n) => (qIds(q), n, s) })
  }

  /** Probe p's LUT: entry e holds the squared grid distance between
    * the probe residual's sub-vector and entry e's centroid. */
  private def lut(p: Int): Array[Long] = {
    val t = new Array[Long](codeIds.length)
    var m = 0
    while (m < subOff.length - 1) {
      val r0 = p * d + m * subdim
      var e = subOff(m)
      while (e < subOff(m + 1)) {
        var s = 0L
        var j = 0
        while (j < subdim) {
          val x = resid(r0 + j) - subCents(e * subdim + j)
          s += x * x
          j += 1
        }
        t(e) = s
        e += 1
      }
      m += 1
    }
    t
  }

  private def entry(m: Int, code: Int): Int = {
    val e = java.util.Arrays.binarySearch(codeIds, subOff(m), subOff(m + 1),
      code)
    if (e < 0)
      throw new IllegalStateException(
        s"index code $code of sub-quantizer $m is not in its codebook")
    e
  }
}

private[ext] object AdcScan {

  /** Driver half: grid the query frame with [[Similarity.gridSql]] and
    * collect it, then take each query's `nprobe` cells by (grid d2,
    * cell id) — [[Similarity.probeCells]]' ranking, in the same BIGINT
    * arithmetic — with its residual against each probed centroid.
    * Bounded driver state: queries·nprobe·d longs. */
  def plan(cb: Codebooks, queries: DataFrame, nprobe: Int,
      k: Int): AdcScan = {
    val d = cb.cellCents.length / cb.cellIds.length
    val qs = queries.select(col("vec_id").cast("long"),
      expr(Similarity.gridSql).as("qa")).collect()
    val probeQ = Array.newBuilder[Int]
    val probeCell = Array.newBuilder[Int]
    val resid = Array.newBuilder[Long]
    val qIds = qs.zipWithIndex.map { case (r, qi) =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "query vec_id and embedding must be non-null")
      val qa = r.getSeq[Long](1).toArray
      require(qa.length == d,
        s"query ${r.getLong(0)} has ${qa.length} dims, the index $d")
      def diff(i: Int) = Array.tabulate(d)(j => qa(j) - cb.cellCents(i * d + j))
      cb.cellIds.indices
        .map(i => (diff(i).map(x => x * x).sum, cb.cellIds(i), i))
        .sorted.take(nprobe)
        .foreach { case (_, cell, i) =>
          probeQ += qi
          probeCell += cell
          resid ++= diff(i)
        }
      r.getLong(0)
    }
    new AdcScan(qIds, probeQ.result(), probeCell.result(), resid.result(),
      d, Similarity.PQ_SUBDIM, cb.codeIds, cb.subCents, cb.subOff, k)
  }

  /** The merge after the single-partition exchange: per query, the k
    * smallest (adist, n_id) of all task heaps, ranked 1..k, emitted in
    * (q_id, rk) order as (q_id, n_id, adist, rk). */
  def merge(k: Int, rows: Iterator[(Long, Long, Long)])
      : Iterator[(Long, Long, Long, Long)] = {
    val heaps = scala.collection.mutable.HashMap.empty[Long, TopK]
    rows.foreach { case (q, n, s) =>
      heaps.getOrElseUpdate(q, new TopK(k)).offer(s, n)
    }
    heaps.keys.toSeq.sorted.iterator.flatMap { q =>
      heaps(q).sorted.iterator.zipWithIndex.map { case ((s, n), i) =>
        (q, n, s, i + 1L)
      }
    }
  }

  /** The k smallest (adist, n_id) pairs offered, in that order. */
  final class TopK(k: Int) {
    // max-heap: the head is the worst pair kept
    private val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Long)]

    def offer(s: Long, n: Long): Unit =
      if (heap.size < k) heap.enqueue((s, n))
      else if (k > 0 && Ordering[(Long, Long)].lt((s, n), heap.head)) {
        heap.dequeue()
        heap.enqueue((s, n))
      }

    def sorted: Seq[(Long, Long)] = heap.toSeq.sorted
  }
}

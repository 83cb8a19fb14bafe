package graft.ingest

import org.apache.spark.sql.SparkSession

/** Incremental CHANGEFEED PUBLISHER — drains a
  * [[graft.ext.MergeTable]]'s version history to a downstream sink,
  * one cursor-tracked run at a time: the reference's cron-shaped
  * incremental loop (cursor → new work → sink → commit;
  * src/extract_github_data.py:164-235 `get_last_repo_id`, :238-290
  * `save_last_repo_id`, :607-762 `extract_repositories`), re-aimed at
  * table versions instead of repo ids, with the same S5/S6 durability
  * discipline ([[CursorStore]] atomic file commit; SINK-THEN-COMMIT
  * ordering, so a crash between the two replays the batch into a
  * byte-identical overwrite — at-least-once execution, exactly-once
  * sink contents).
  *
  * Bootstrap contract: the FIRST run initializes the cursor to the
  * table's current version and publishes nothing — a consumer
  * bootstraps from a snapshot read at that version (readTable pins it)
  * and the feed then carries increments; publishing "the diff since
  * v1" instead would silently miss rows already present at v1, the
  * classic CDC bootstrap bug.
  *
  * RETENTION CONTRACT: the diff needs BOTH endpoint manifests, so
  * [[graft.ext.MergeTable.vacuum]]'s retention must cover the
  * publisher's worst-case lag — vacuuming past an unpublished cursor
  * makes the next run fail LOUDLY with the missing-version error
  * (spec-pinned), never silently skip changes; recovery is a fresh
  * bootstrap (re-pin a snapshot, consumers reload). The same coupling
  * every snapshot-store incremental reader documents.
  *
  * Each published batch lands at `sink/batch=<toVersion>` (overwrite —
  * replay-idempotent by construction) carrying the classified diff
  * (key, change, old_row, new_row). Per-run cost is the manifest diff:
  * O(changed buckets), near-zero on a quiet table. Versions between
  * two runs COALESCE into one batch (a snapshot diff, not a commit
  * replay) — the consumer sees each key's net change, the same
  * semantics q144 gates. */
object ChangefeedRunner {

  final case class RunResult(fromV: Long, toV: Long, rows: Long)

  /** Per-batch provenance marker (`_graft_feed` inside the batch dir):
    * `fromV toV`, written after the data, before the cursor commit. A
    * consumer CHAIN-VALIDATES it — apply `batch=<toV>` only when its
    * recorded fromV equals the consumer's own cursor — which turns the
    * two silent-corruption cases into loud errors: a batch whose
    * fromV is BELOW the consumer's cursor overlaps deltas already
    * applied (double count), one ABOVE it skips deltas (a gap, e.g.
    * the publisher re-bootstrapped). [[IvmRunner]] enforces it. */
  val MarkerFile = "_graft_feed"

  private[ingest] def writeMarker(spark: SparkSession, batchDir: String,
      fromV: Long, toV: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(batchDir, MarkerFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"$fromV $toV".getBytes("UTF-8")) finally out.close()
  }

  /** The (fromV, toV) a published batch recorded — None when the dir
    * predates the marker or is a half-written strand. */
  def readMarker(spark: SparkSession,
      batchDir: String): Option[(Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(batchDir, MarkerFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      s.trim.split("\\s+") match {
        case Array(a, b) => Some((a.toLong, b.toLong))
        case _ => None
      }
    }
  }

  /** SINK RETENTION — the bound on the published feed itself: batch
    * dirs at or below `consumedThrough` (the slowest consumer's
    * committed cursor) have been absorbed and can never be re-read
    * under the chain-validation contract (a consumer at cursor C only
    * accepts fromV == C, and every retained batch above C chains
    * forward), so the retention job deletes them. Without this the
    * sink grows with the table's entire change history — the same
    * unbounded-runs class [[graft.ext.Ivm.compact]] closes on the view
    * side. A deployment with several consumers passes the MINIMUM of
    * their cursors. Idempotent; crash-safe (a half-deleted dir is
    * below every cursor and the next prune resweeps). */
  def pruneSink(spark: SparkSession, sinkDir: String,
      consumedThrough: Long): Long = {
    val root = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0L
    val doomed = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("batch=") &&
          scala.util.Try(n.drop(6).toLong).toOption
            .exists(_ <= consumedThrough)
      }
    doomed.foreach(fs.delete(_, true))
    doomed.length.toLong
  }

  private def batchDirs(spark: SparkSession,
      sinkDir: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .flatMap(n => scala.util.Try(n.drop(6).toLong).toOption)
      .toSeq.sorted
  }

  /** One incremental run: publish the diff from the cursor's version
    * to the table's current version, then advance the cursor. None =
    * nothing new (or first-run bootstrap, which only sets the
    * cursor; or a restart that only ADOPTED an already-published
    * batch — see below). */
  def runOnce(spark: SparkSession, tableDir: String, sinkDir: String,
      cursor: CursorStore): Option[RunResult] = {
    val cur = graft.ext.MergeTable.resolveVersion(spark, tableDir)
    cursor.read() match {
      case None =>
        cursor.commit(cur) // bootstrap: pin the snapshot, publish nothing
        None
      case Some(from0) =>
        // ADOPTION, before anything else: a prior run that crashed
        // between writeMarker and cursor.commit left a marker-COMPLETE
        // batch above the cursor. Its marker IS the consumer-visible
        // commit (consumers chain-validate on the marker alone and may
        // already have applied the batch and advanced their cursors),
        // so the batch must be honored, never swept or superseded by a
        // wider re-publish whose fromV would sit below a consumer's
        // cursor and brick the chain. Roll the publisher cursor
        // forward over every chaining marker-complete batch — adopting
        // each as the commit it already is — and only then diff from
        // the adopted frontier.
        var from = from0
        var adopted = true
        while (adopted) {
          adopted = false
          batchDirs(spark, sinkDir).filter(_ > from).foreach { v =>
            if (!adopted)
              readMarker(spark, s"$sinkDir/batch=$v").foreach {
                case (fv, tv) if fv == from =>
                  cursor.commit(tv); from = tv; adopted = true
                case _ => // non-chaining marker: not ours to adopt
              }
          }
        }
        if (from >= cur) return None
        // a publish window straddling a REBUCKET cannot prune by
        // bucket (every key re-hashed — bucket identity is gone). A
        // rebucket-ONLY window still diffs free — the table-level
        // fingerprint total is width-invariant and changedBuckets
        // prunes everything — but a window carrying BOTH the width
        // change and real row changes degrades to the keyed full
        // diff; say so loudly rather than letting a routine migration
        // silently turn one CDC run into a table-sized job
        val wFrom = graft.ext.MergeTable.bucketWidth(spark, tableDir,
          Some(from))
        val wCur = graft.ext.MergeTable.bucketWidth(spark, tableDir,
          Some(cur))
        if (wFrom != wCur &&
            graft.ext.MergeTable
              .changedBuckets(spark, tableDir, from, cur).nonEmpty)
          System.err.println(s"[graft] changefeed $tableDir: publish " +
            s"window v$from->v$cur straddles a rebucket " +
            s"($wFrom->$wCur hex) AND carries row changes — bucket " +
            "pruning is unavailable, this run pays the keyed full diff")
        val diff = graft.ext.MergeTable.changes(spark, tableDir, from, cur)
        // the published row count rides the write job itself as an
        // observed metric (guide §1.2: one pass, not write-then-
        // re-scan; the old shape paid a second job re-reading the
        // batch it had just written only to count it)
        val obs = new org.apache.spark.sql.Observation()
        diff.observe(obs, org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("rows"))
          .write.mode("overwrite").parquet(s"$sinkDir/batch=$cur")
        val rows = obs.get("rows").asInstanceOf[Long]
        writeMarker(spark, s"$sinkDir/batch=$cur", from, cur)
        // STRAND SWEEP, before the cursor advances: a prior run that
        // crashed while (partially) writing its batch DATA — before
        // its marker — and then saw the table advance leaves a
        // MARKERLESS batch=<V> dir, from < V < cur, that the
        // byte-identical-overwrite replay no longer covers (the retry
        // publishes batch=<cur> instead). Markerless dirs are
        // uncommitted by the marker contract (consumers skip them
        // unread), so deleting them is safe; marker-complete dirs were
        // adopted above and are never swept — the distinction that
        // keeps an ordinary crash+retry from deleting a batch a
        // consumer already applied. Re-crashing here just reruns the
        // sweep.
        val fs = new org.apache.hadoop.fs.Path(sinkDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        batchDirs(spark, sinkDir)
          .filter(v => v > from && v < cur)
          .filter(v => readMarker(spark, s"$sinkDir/batch=$v").isEmpty)
          .foreach(v => fs.delete(
            new org.apache.hadoop.fs.Path(s"$sinkDir/batch=$v"), true))
        cursor.commit(cur) // only after the sink is fully written
        Some(RunResult(from, cur, rows))
    }
  }
}

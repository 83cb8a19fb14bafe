package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}

/** COPY-ON-WRITE keyed table with SNAPSHOT ISOLATION — the
  * UPSERT/DELETE (CDC-apply) write path plus the manifest/time-travel
  * read side a 100 TB deployment pairs it with. The reference pipeline
  * only ever appends (its per-repo cache files are written once and
  * reused verbatim — src/extract_github_data.py:293-330
  * `get_cache_filename`/`save_to_cache` — so a changed repo is only
  * ever corrected by re-extraction); the warehouse answer (Hudi's
  * bucket-indexed copy-on-write; Iceberg/Delta's manifest-committed
  * snapshots) is file-granular rewrite under an atomic metadata commit:
  *
  *  - the table is HASH-BUCKETED on its key into `bucket=<hex>`
  *    partitions (two md5 hex digits = 256 buckets by default), one
  *    data file per bucket per writing version — the md5 prefix is the
  *    engine-shared hash discipline (Sampling's split hash), so every
  *    bucket decision is restatable in the DuckDB oracle, unlike
  *    Spark-private murmur3;
  *  - an upsert batch touches only the buckets its keys hash into:
  *    read THOSE partitions (partition-pruned scan), anti-join the
  *    batch keys (old versions drop), union the batch (latest wins),
  *    write the rewritten buckets as NEW files under the next version's
  *    epoch dir — no live file is ever modified or deleted by a write;
  *  - the COMMIT is one atomic manifest promotion: the manifest body is
  *    written in full to a hidden temp name and then promoted to
  *    `_manifests/v<N>` by an atomic create-no-overwrite operation (a
  *    hard link on a local filesystem, an atomic fails-on-existing
  *    rename on HDFS-shaped stores, a conditional put on object
  *    stores) — so a version is either fully readable or invisible;
  *    readers can never resolve a half-written manifest, and a writer
  *    crash leaves only a hidden temp file [[vacuum]] sweeps (readers
  *    additionally treat a zero-length `v<N>` as uncommitted garbage,
  *    belt-and-braces for legacy torn writes). The new manifest lists
  *    untouched buckets' existing files plus the rewritten buckets' new
  *    files. Readers resolve a manifest (latest by default, any
  *    retained version on request — TIME TRAVEL, the pinned-snapshot
  *    reproducibility a training job needs while CDC keeps flowing)
  *    and scan exactly its file list;
  *  - MULTI-WRITER: every epoch write lands under a writer-unique
  *    ATTEMPT dir (`v=<N>-<writerTag>`), so two committers racing to
  *    version N never touch each other's files; the manifest promotion
  *    is the single race, the loser gets an explicit
  *    [[CommitConflictException]] and RETRIES against the winner's
  *    snapshot (recomputing its merge — the winner may have rewritten
  *    overlapping buckets), and the losing attempt dir is eagerly
  *    deleted (a crash instead leaves an orphan [[fsck]] classifies
  *    benign and [[vacuum]] sweeps). Final state equals sequential
  *    application — the CDC-applier-racing-a-compactor deployment is
  *    safe by construction, never by scheduling;
  *  - old versions cost exactly their rewritten files until [[vacuum]]
  *    drops manifests past the retention and deletes newly-unreferenced
  *    files — write amplification AND retention cost are both priced
  *    (q141/q143), the q123 discipline. Vacuum drops the expired
  *    MANIFESTS first and only then sweeps unreferenced files: a crash
  *    between the two leaves benign orphans the next sweep re-collects,
  *    never a still-listed version whose files are gone.
  *
  * Replay safety: an upsert carries ABSOLUTE rows (state, not deltas),
  * so re-applying a batch lands the same per-key state (at worst one
  * extra version with identical content when the crash fell between
  * data write and manifest commit) — idempotent by value, which is what
  * lets the streaming twin re-run a batch after a mid-write kill.
  *
  * Bucket count is part of the SNAPSHOT's identity: each manifest
  * records its own bucket width (`#hex=<d>` header), every write path
  * buckets against the CURRENT manifest's width, and [[rebucket]] is
  * the explicit full-rewrite migration to a new width — priced like
  * any other epoch (filesWritten = new bucket count), never silent,
  * with time travel intact across the boundary because old manifests
  * carry their own width. Driver state is bounded by the bucket count
  * and the manifest size (file names, one per bucket per retained
  * version — the manifest-sized cost class), never by data size. */
object MergeTable {

  /** Default hex digits of md5(key) used as the bucket id for NEW
    * tables: 2 → 256 buckets. At 100 TB the knob rises (4 hex = 65536
    * buckets) so a bucket's file stays row-group-sized; the arithmetic
    * is scale-free and [[rebucket]] migrates a live table. */
  val HEX_DIGITS = 2

  /** A concurrent committer won the manifest race for this version; the
    * caller's retry loop recomputes against the winner's snapshot. */
  final class CommitConflictException(msg: String, cause: Throwable)
    extends java.io.IOException(msg, cause)

  final case class CowStats(version: Long, bucketsRewritten: Long,
    filesRead: Long, filesWritten: Long, rowsMatched: Long,
    rowsInserted: Long)

  final case class VacuumStats(filesDeleted: Long, filesLive: Long,
    versionsDropped: Long, versionsLive: Long)

  private def bucketCol(key: Column, hexDigits: Int): Column =
    substring(md5(key.cast("string")), 1, hexDigits)

  /** Oracle-side restatement of [[bucketCol]] (DuckDB dialect). */
  private[ext] def bucketSql(key: String,
      hexDigits: Int = HEX_DIGITS): String =
    s"substr(md5(CAST($key AS VARCHAR)), 1, $hexDigits)"

  /** Writer-unique attempt tag: pid + a JVM-global counter — unique
    * across concurrent writers without coordination (two JVMs differ by
    * pid, two threads by counter), which is all the attempt-dir
    * protocol needs; the manifest promotion stays the only race. */
  private val attemptCounter = new java.util.concurrent.atomic.AtomicLong()
  private def attemptTag(): String =
    s"${ProcessHandle.current().pid()}x${attemptCounter.incrementAndGet()}"

  private def hadoopFs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def keyMeta(spark: SparkSession, dir: String,
      keyCol: Option[String]): String = {
    val path = new Path(dir, "_graft_meta")
    val fs = hadoopFs(spark, dir)
    if (fs.exists(path)) {
      val in = fs.open(path)
      val stored =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      keyCol.filter(_ != stored).foreach { k =>
        throw new IllegalArgumentException(
          s"MergeTable at $dir is keyed by $stored, not $k")
      }
      stored
    } else {
      val k = keyCol.getOrElse(sys.error(s"no MergeTable at $dir"))
      fs.mkdirs(path.getParent)
      val out = fs.create(path, false)
      try out.write(k.getBytes("UTF-8")) finally out.close()
      k
    }
  }

  // ---- manifests ---------------------------------------------------
  // one text file per committed version under _manifests/, named
  // v<zero-padded N>; line 1 is the "#hex=<d>" bucket-width header
  // (absent in legacy manifests → HEX_DIGITS), then one
  // "#fp=<bucket>:<rows>:<hashsum>" CONTENT-FINGERPRINT line per
  // non-empty bucket (absent in legacy manifests — see
  // [[changedBuckets]] for the per-bucket fallback), every other line
  // a data-file path RELATIVE to <dir>/data (e.g.
  // "v=2-41x7/bucket=a3/part-....parquet"). Commits land via a hidden
  // ".v<N>.<tag>.tmp" sibling promoted atomically, so a listed,
  // non-empty v<N> is always a COMPLETE manifest.

  private def manifestDir(dir: String) = new Path(dir, "_manifests")
  private def manifestPath(dir: String, v: Long) =
    new Path(manifestDir(dir), f"v$v%09d")

  /** Manifest names on disk with their byte lengths, ascending by
    * version — the shared parse behind [[versions]]/[[commitManifest]]:
    * which zero-length files count as committed is a JOINT decision
    * (see versions' Scaladoc) and must not be made twice. */
  private def manifestLens(spark: SparkSession,
      dir: String): Seq[(Long, Long)] = {
    val fs = hadoopFs(spark, dir)
    val md = manifestDir(dir)
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("v") && n.length > 1 && n.drop(1).forall(_.isDigit)
      }
      .map(st => st.getPath.getName.drop(1).toLong -> st.getLen)
      .sortBy(_._1)
  }

  /** Committed versions at `dir`, ascending (empty → no table yet).
    * Hidden temp names are uncommitted garbage. A ZERO-LENGTH `v<N>`
    * is ambiguous: the CURRENT writer never produces one (every commit
    * carries at least the `#hex=` header), but the legacy format wrote
    * zero bytes for a committed snapshot whose every row was deleted,
    * and a legacy torn write looks identical. Disambiguation: a
    * zero-length manifest BELOW the highest non-empty version is a
    * legacy committed-empty snapshot (history — dropping it would let
    * its version number be re-committed with different contents,
    * corrupting time travel); one AT OR ABOVE it is torn garbage,
    * invisible and reclaimable. A legacy table whose LATEST snapshot
    * is empty is genuinely undecidable — re-commit it under the
    * current format before multi-writer use (migration note). */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val all = manifestLens(spark, dir)
    val maxNonEmpty = all.collect { case (v, len) if len > 0 => v }
      .maxOption
    all.collect {
      case (v, len) if len > 0 || maxNonEmpty.exists(v < _) => v
    }
  }

  /** Size-bounded LRU for driver-side metadata caches: the cached
    * facts are immutable (promoted manifests, epoch schemas) so any
    * eviction is merely a re-read, but an UNBOUNDED map leaks one
    * entry per (dir, version)/(dir, epoch) forever in a long-lived
    * driver that touches many tables and never vacuums them
    * in-process. The value function runs OUTSIDE the map lock
    * (values are idempotent — a racing double-compute wastes one
    * probe, never corrupts). */
  private final class BoundedCache[K, V](maxEntries: Int) {
    private val m = java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[K, V]): Boolean = size() > maxEntries
      })
    def computeIfAbsent(k: K, f: K => V): V = {
      val v0 = m.get(k)
      if (v0 != null) v0
      else {
        val v = f(k)
        val prev = m.putIfAbsent(k, v)
        if (prev != null) prev else v
      }
    }
    def get(k: K): Option[V] = Option(m.get(k))
    def put(k: K, v: V): Unit = { m.put(k, v); () }
    def remove(k: K): Unit = { m.remove(k); () }
    def removeIf(p: K => Boolean): Unit =
      m.synchronized { m.keySet.removeIf(k => p(k)); () }
  }

  /** One manifest, parsed — and the unit every commit is built from: a
    * writer hands [[commitManifest]] a copy of its base snapshot with
    * its change applied. `ts` is what the manifest read carried; a
    * commit ignores it and stamps its own. */
  private[ext] final case class ManifestData(hexDigits: Int = HEX_DIGITS,
    entries: Seq[String] = Nil, fps: Map[String, String] = Map.empty,
    tokens: Map[String, Long] = Map.empty,
    sts: Map[String, String] = Map.empty,
    cols: Map[String, String] = Map.empty,
    dvs: Seq[String] = Nil,
    dvf: Map[String, Long] = Map.empty,
    props: Map[String, String] = Map.empty,
    bls: Map[String, String] = Map.empty,
    ts: Option[Long] = None,
    eschs: Map[String, String] = Map.empty)

  /** Reader capabilities THIS engine implements. A manifest whose
    * `#requires=` lines name anything else fails loudly at read time —
    * the Delta minReaderVersion discipline re-expressed as named
    * capabilities: a feature whose silent omission would corrupt reads
    * (deletion vectors — an ignorant reader resurrects deleted rows)
    * gates the READER, while purely-advisory lines (`#st2=`, `#prop=`)
    * degrade soundly and gate nothing. */
  private val ReaderCapabilities: Set[String] = Set("dv")

  /** Parsed-manifest cache: a COMMITTED manifest is immutable (written
    * to a temp name and atomically promoted; commitManifest refuses to
    * overwrite a non-empty one), so its parse is a pure function of
    * (dir, v) — but a table directory can be deleted and re-created at
    * the same path (tests, external tools), so every hit re-validates
    * against the file's (length, modTime) from the getFileStatus call
    * the uncached path already paid. Every read and write resolves its
    * manifest through [[snapshot]], often several times per action;
    * without this each read re-parses O(entries + stats + bloom lines)
    * of text.
    * Expired versions are dropped by [[vacuum]]. */
  private val manifestCache =
    new BoundedCache[(String, Long), (Long, Long, ManifestData)](1 << 12)

  private def readManifestFull(spark: SparkSession, dir: String,
      v: Long): ManifestData = {
    val fs = hadoopFs(spark, dir)
    val p = manifestPath(dir, v)
    val st =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    val len = st.map(_.getLen)
    val committed = len.exists(_ > 0) ||
      (len.contains(0L) && versions(spark, dir).contains(v))
    if (!committed)
      throw new IllegalArgumentException(
        s"MergeTable at $dir has no version $v (vacuumed or never " +
          s"committed); retained: ${versions(spark, dir).mkString(",")}")
    if (len.contains(0L)) // legacy committed-empty snapshot
      return ManifestData(HEX_DIGITS, Seq.empty, Map.empty)
    val (stLen, stMod) = (st.get.getLen, st.get.getModificationTime)
    manifestCache.get((dir, v)) match {
      case Some((l, m, md)) if l == stLen && m == stMod => return md
      case _ =>
    }
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    val hex = lines.collectFirst {
      case l if l.startsWith("#hex=") => l.drop(5).trim.toInt
    }.getOrElse(HEX_DIGITS)
    val fps = lines.collect {
      case l if l.startsWith("#fp=") =>
        val body = l.drop(4)
        val cut = body.indexOf(':')
        body.take(cut) -> body.drop(cut + 1)
    }.toMap
    // every snapshot CARRIES FORWARD all streams' newest idempotency
    // tokens (one #tok=<streamId>:<batchId> line per stream — the
    // Delta per-app txn-version model), so the LATEST manifest alone
    // answers [[lastAppliedBatch]] and no interleaved non-token writer
    // + vacuum can drop a stream's replay gate. The streamId may
    // itself contain ':'; the batch id never does, so split at the
    // LAST colon.
    val toks = lines.flatMap {
      case l if l.startsWith("#tok=") =>
        val body = l.drop(5)
        val cut = body.lastIndexOf(':')
        // defensive: a manifest written by an older/foreign tool may
        // carry a free-form token with no ':<long>' suffix; the
        // universal reader must not throw for a line only the stream
        // replay gate consumes (it treats an unparseable token as
        // "no batch recorded" — the safe, at-least-once direction)
        if (cut < 0) None
        else body.drop(cut + 1).toLongOption.map(body.take(cut) -> _)
      case _ => None
    }.toMap
    // per-FILE column stats: "#st=<relpath>|col:min:max|..." — keyed
    // by the entry path (a data file's stats are immutable with it).
    // `#st=` carries the pre-round-15 integral/all-null tokens and
    // `#st2=` the typed string bounds (see writeManifest's version
    // gate); a file's internal body is the union of both lines.
    val sts = lines.flatMap { l =>
      val tag = if (l.startsWith("#st2=")) 5
        else if (l.startsWith("#st=")) 4 else -1
      if (tag < 0) None
      else {
        val body = l.drop(tag)
        val cut = body.indexOf('|')
        if (cut < 0) Some(body -> "")
        else Some(body.take(cut) -> body.drop(cut + 1))
      }
    }.groupBy(_._1).map { case (f, bs) =>
      f -> bs.map(_._2).filter(_.nonEmpty).mkString("|")
    }
    // COLUMN MAPPING (the Iceberg id-model re-expressed over names):
    // "#col=<physical>:<logical>" — the parquet files keep their
    // immutable PHYSICAL column names forever; the snapshot's LOGICAL
    // schema renames (logical differs) or drops (logical empty) them
    // at the read boundary. No line = identity. Each manifest carries
    // its own mapping, so time travel reads every version under the
    // names it had.
    val colMap = lines.collect {
      case l if l.startsWith("#col=") =>
        val body = l.drop(5)
        val cut = body.indexOf(':')
        body.take(cut) -> body.drop(cut + 1)
    }.toMap
    // PROTOCOL GATE: `#requires=<capability>` names a feature whose
    // silent omission would return WRONG rows (not merely degrade) —
    // an engine that does not implement it must refuse the read.
    val unknownReq = lines.collect {
      case l if l.startsWith("#requires=") => l.drop(10).trim
    }.filterNot(ReaderCapabilities)
    if (unknownReq.nonEmpty)
      throw new IllegalStateException(
        s"manifest v$v at $dir requires reader capabilities " +
          s"[${unknownReq.mkString(", ")}] this engine does not " +
          "implement — refusing to read (a capability-blind read " +
          "would silently return wrong rows); upgrade the reader")
    // DELETION VECTORS (merge-on-read): `#dv=` lines list the live
    // tombstone parquet files (paths relative to <dir>), `#dvf=` the
    // data files they mask with each file's tombstone count — the
    // read path scans clean files verbatim and anti-joins only the
    // dirty ones (see readEntries).
    val dvs = lines.collect {
      case l if l.startsWith("#dv=") => l.drop(4).trim
    }
    val dvf = lines.collect {
      case l if l.startsWith("#dvf=") =>
        val body = l.drop(5)
        val cut = body.lastIndexOf(':')
        body.take(cut) -> body.drop(cut + 1).toLong
    }.toMap
    // table PROPERTIES: versioned key:value pairs carried forward by
    // every commit (the Delta log-properties model — atomic,
    // time-travel-consistent); advisory, never a reader gate.
    val props = lines.collect {
      case l if l.startsWith("#prop=") =>
        val body = l.drop(6)
        val cut = body.indexOf(':')
        body.take(cut) -> body.drop(cut + 1)
    }.toMap
    // per-FILE BLOOM FILTERS (`#bl=<file>|col:m:<base64>|...`) —
    // equality-predicate file skipping for non-clustered columns;
    // advisory like stats (a bloom-blind reader prunes nothing, which
    // is sound).
    val bls = lines.flatMap { l =>
      if (!l.startsWith("#bl=")) None
      else {
        val body = l.drop(4)
        val cut = body.indexOf('|')
        if (cut < 0) Some(body -> "")
        else Some(body.take(cut) -> body.drop(cut + 1))
      }
    }.groupBy(_._1).map { case (f, bs) =>
      f -> bs.map(_._2).filter(_.nonEmpty).mkString("|")
    }
    // IN-COMMIT TIMESTAMP (`#ts=<epochMillis>`): the commit's own wall
    // clock, written with the manifest so copies/restores of the
    // directory cannot shift history (the Delta ICT rationale); legacy
    // manifests fall back to file mtime in [[commitTimes]].
    val ts = lines.collectFirst {
      case l if l.startsWith("#ts=") => l.drop(4).trim.toLong
    }
    // per-EPOCH physical schemas ("#esch=<epochName>|<StructType
    // json>") — the Iceberg/Delta schema-in-metadata discipline: a
    // snapshot read whose every epoch carries one resolves its scan
    // schema from the manifest alone, O(retained epochs), instead of
    // merging O(table files) parquet footers in a plan-time Spark
    // job. Advisory: an epoch without a line (legacy commit) routes
    // the read through the footer-merge probe, which is merely
    // slower, never wrong.
    val eschs = lines.collect {
      case l if l.startsWith("#esch=") =>
        val body = l.drop(6)
        val cut = body.indexOf('|')
        // loud-on-corruption, the manifest discipline: a line with no
        // '|' (or an empty epoch name) is not a legacy format — no
        // writer ever produced one — so parsing it as epoch "" and
        // silently dropping it at the next commit would swallow
        // manifest corruption instead of surfacing it
        if (cut <= 0) throw new IllegalStateException(
          s"manifest v$v at $dir carries a malformed #esch= line " +
            s"('${l.take(80)}'): no epoch|schema separator — the " +
            "manifest is corrupt; restore it before reading")
        body.take(cut) -> body.drop(cut + 1)
    }.toMap
    val parsed = ManifestData(hex, lines.filterNot(_.startsWith("#")),
      fps, toks, sts, colMap, dvs, dvf, props, bls, ts, eschs)
    manifestCache.put((dir, v), (stLen, stMod, parsed))
    parsed
  }

  private[graft] def readManifest(spark: SparkSession, dir: String,
      v: Long): Seq[String] = readManifestFull(spark, dir, v).entries

  /** The version a read or write starts from: `version`, or the
    * latest committed one — loud when `dir` holds no table. */
  private[graft] def resolveVersion(spark: SparkSession, dir: String,
      version: Option[Long] = None): Long =
    version.getOrElse(versions(spark, dir).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no MergeTable at $dir")))

  /** The snapshot a read or write starts from: [[resolveVersion]]'s
    * version and its parsed manifest (loud when vacuumed or never
    * committed). */
  private[ext] def snapshot(spark: SparkSession, dir: String,
      version: Option[Long] = None): (Long, ManifestData) = {
    val v = resolveVersion(spark, dir, version)
    (v, readManifestFull(spark, dir, v))
  }

  /** The key column an existing table at `dir` is keyed by. */
  def keyOf(spark: SparkSession, dir: String): String =
    keyMeta(spark, dir, None)

  /** The bucket width (hex digits) of a version's snapshot (default:
    * latest) — every write path buckets against this, and [[rebucket]]
    * changes it under a normal manifest commit. */
  def bucketWidth(spark: SparkSession, dir: String,
      version: Option[Long] = None): Int =
    snapshot(spark, dir, version)._2.hexDigits

  // ── Named tags: immutable version pins ──────────────────────────

  private def tagsDir(dir: String) = new Path(dir, "_tags")
  private val TagName = "[A-Za-z0-9][A-Za-z0-9._-]{0,63}".r

  /** Pin `name` to a committed version (default: latest) — an
    * IMMUTABLE named ref (`_tags/<name>`, created no-overwrite: two
    * racers get one winner and one loud failure). Re-pointing a pin
    * would silently change what a past training run meant, so there
    * is no re-point: [[dropTag]] + re-tag is the explicit two-step.
    * [[vacuum]] RETAINS tag-pinned versions (and their files) past
    * `retainVersions` — the Iceberg ref-retention contract: a pin
    * means "hold this snapshot", and the reproducibility story
    * (re-read the exact bytes a run trained on, months later) is only
    * as good as that hold. Returns the pinned version. */
  def tag(spark: SparkSession, dir: String, name: String,
      version: Option[Long] = None): Long = {
    require(TagName.matches(name),
      s"tag name '$name' must match ${TagName.regex}")
    val (v, _) = snapshot(spark, dir, version) // loud on vacuumed
    val fs = hadoopFs(spark, dir)
    fs.mkdirs(tagsDir(dir)): Unit
    val p = new Path(tagsDir(dir), name)
    val out =
      try fs.create(p, false)
      catch { case e: java.io.IOException if fs.exists(p) =>
        throw new IllegalArgumentException(
          s"tag '$name' already exists at $dir (tags are immutable — " +
            "dropTag first to re-point)", e)
      }
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    // re-check AFTER the pin lands (the commit protocol's read-back
    // pattern): a concurrent vacuum between the validation above and
    // the pin creation can sweep the target version's manifest — the
    // pin would then dangle from birth, its reproducibility promise
    // already broken, detected only by a later fsck while reads
    // through the tag fail. Un-pin and throw instead; once this check
    // passes the pin is visible to every later vacuum's retention set.
    if (!versions(spark, dir).contains(v)) {
      fs.delete(p, false): Unit
      throw new IllegalStateException(
        s"tag '$name': version $v at $dir was vacuumed concurrently " +
          "before the pin became visible — nothing was tagged; retry " +
          "against a retained version")
    }
    v
  }

  /** Every tag at `dir` (empty when none). A TORN tag file (a crash
    * between create and write left non-numeric content) fails LOUDLY
    * by name rather than being skipped: [[vacuum]] reads this map to
    * decide which versions a pin holds, and silently ignoring an
    * unreadable pin could sweep the exact snapshot it was protecting —
    * the operator deletes the named file (or re-tags) deliberately. */
  def tags(spark: SparkSession, dir: String): Map[String, Long] = {
    val fs = hadoopFs(spark, dir)
    val td = tagsDir(dir)
    if (!fs.exists(td)) Map.empty
    else fs.listStatus(td).filter(_.isFile).map { st =>
      val in = fs.open(st.getPath)
      val s =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      val v = s.toLongOption.getOrElse(throw new IllegalStateException(
        s"torn tag file ${st.getPath}: content '$s' is not a version " +
          "— delete it (or re-tag) before vacuuming; a torn pin " +
          "cannot be honored and must not be silently dropped"))
      st.getPath.getName -> v
    }.toMap
  }

  /** The version a tag pins — loud when absent. */
  def tagVersion(spark: SparkSession, dir: String, name: String): Long =
    tags(spark, dir).getOrElse(name,
      throw new IllegalArgumentException(
        s"no tag '$name' at $dir; tags: " +
          tags(spark, dir).keys.toSeq.sorted.mkString(",")))

  /** Drop a tag — the explicit half of re-pointing. The version stays
    * committed; once unpinned it is vacuum-eligible again. Returns
    * whether the tag existed. */
  def dropTag(spark: SparkSession, dir: String, name: String): Boolean =
    hadoopFs(spark, dir).delete(new Path(tagsDir(dir), name), false)

  // ── CHECK constraints: write-time invariants ────────────────────

  private def constraintsDir(dir: String) = new Path(dir, "_constraints")

  /** Declare a CHECK constraint (`_constraints/<name>`, one SQL
    * boolean expression over payload columns) — the at-rest twin of
    * the ingest layer's NOT-NULL validation. EXISTING data is
    * validated first (one O(snapshot) scan, the Delta ADD CONSTRAINT
    * contract: a constraint that does not already hold would make
    * every later rejection arbitrary). Semantics are SQL CHECK: a row
    * violates only when the expression evaluates FALSE — NULL passes,
    * so a constraint over a column older rows never stored (extend-
    * only evolution) does not reject them. Every [[upsert]] and
    * [[merge]] then validates exactly the rows it is about to write —
    * O(written rows), never the table — and fails LOUDLY with
    * per-constraint violation counts, committing nothing. Immutable
    * like a tag: [[dropConstraint]] + re-add to change. */
  def addConstraint(spark: SparkSession, dir: String, name: String,
      sqlExpr: String): Unit = {
    require(TagName.matches(name),
      s"constraint name '$name' must match ${TagName.regex}")
    require(sqlExpr.trim.nonEmpty && !sqlExpr.contains('\n'),
      "constraint expression must be one non-empty line")
    val bad = readTable(spark, dir).filter(
      coalesce(expr(sqlExpr).cast("boolean"), lit(true)) === false)
      .count()
    require(bad == 0L,
      s"constraint '$name' ($sqlExpr) does not hold on the existing " +
        s"snapshot: $bad row(s) violate — clean the data first")
    val fs = hadoopFs(spark, dir)
    fs.mkdirs(constraintsDir(dir)): Unit
    val p = new Path(constraintsDir(dir), name)
    val out =
      try fs.create(p, false)
      catch { case e: java.io.IOException if fs.exists(p) =>
        throw new IllegalArgumentException(
          s"constraint '$name' already exists at $dir (constraints " +
            "are immutable — dropConstraint first)", e)
      }
    try out.write(sqlExpr.getBytes("UTF-8")) finally out.close()
  }

  /** Every CHECK constraint at `dir` (name -> SQL expression). A torn
    * file fails loudly by name — the write path reads this map to
    * decide what to reject, and guessing would make enforcement
    * arbitrary. */
  def constraints(spark: SparkSession, dir: String): Map[String, String] = {
    val fs = hadoopFs(spark, dir)
    val cd = constraintsDir(dir)
    if (!fs.exists(cd)) Map.empty
    else fs.listStatus(cd).filter(_.isFile).map { st =>
      val in = fs.open(st.getPath)
      val s =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (s.isEmpty) throw new IllegalStateException(
        s"torn constraint file ${st.getPath}: empty expression — " +
          "delete it (or re-add) before writing")
      st.getPath.getName -> s
    }.toMap
  }

  /** Drop a CHECK constraint; returns whether it existed. */
  def dropConstraint(spark: SparkSession, dir: String,
      name: String): Boolean =
    hadoopFs(spark, dir).delete(new Path(constraintsDir(dir), name), false)

  /** One aggregate over the rows `op` is about to write: per-
    * constraint violation counts; any violation aborts BEFORE the
    * epoch write, so nothing — file or manifest — lands. */
  private def enforceConstraints(spark: SparkSession, dir: String,
      rows: DataFrame, op: String): Unit = {
    val all = constraints(spark, dir).toSeq.sortBy(_._1)
    if (all.isEmpty) return
    // a constraint whose column does not RESOLVE on this write's rows
    // is the extend-only evolution case: the epoch being written never
    // stored that column, so every written row reads NULL for it —
    // NULL passes SQL CHECK, so the constraint passes this write
    // wholesale. (It cannot be a typo: addConstraint resolved the
    // expression against the live snapshot, and evolution never drops
    // a column.)
    val cs = all.filter { case (_, e) =>
      scala.util.Try(rows.select(expr(e))).isSuccess
    }
    if (cs.isEmpty) return
    val aggs = cs.map { case (n, e) =>
      coalesce(sum(when(
        coalesce(expr(e).cast("boolean"), lit(true)) === false,
        1L).otherwise(0L)), lit(0L)).as(s"c_$n")
    }
    val row = rows.agg(aggs.head, aggs.tail: _*).collect().head
    val viols = cs.zipWithIndex
      .map { case ((n, e), i) => (n, e, row.getLong(i)) }
      .filter(_._3 > 0L)
    if (viols.nonEmpty)
      throw new IllegalStateException(
        s"$op at $dir rejected by CHECK constraint(s): " +
          viols.map { case (n, e, c) => s"$n ($e): $c row(s)" }
            .mkString("; ") +
          " — nothing was committed")
  }

  /** Table PROPERTIES — versioned key:value pairs in the manifest
    * (`#prop=` lines, carried forward by every commit — the Delta
    * log-properties model: atomic with the snapshot, readable at any
    * retained version). Purely advisory to readers; writers consult
    * them for routing (e.g. `graft.deletes.mode = mor` switches SQL
    * DELETE to [[deleteKeysMor]]/[[deleteWhereMor]]). */
  def properties(spark: SparkSession, dir: String,
      version: Option[Long] = None): Map[String, String] =
    snapshot(spark, dir, version)._2.props

  /** Set (or overwrite) table properties — one metadata-only commit:
    * same entries, fingerprints, stats, mapping and tombstones,
    * properties merged. Returns the committed version. */
  def setProperties(spark: SparkSession, dir: String,
      kvs: Map[String, String]): Long =
    retryOnConflict("setProperties", dir) {
      require(kvs.nonEmpty, "no properties to set")
      val (cur, man) = snapshot(spark, dir)
      commitManifest(spark, dir, cur + 1, man.copy(props = man.props ++ kvs))
      cur + 1
    }

  /** Remove table properties (absent keys are a no-op); one
    * metadata-only commit. */
  def unsetProperties(spark: SparkSession, dir: String,
      keys: Seq[String]): Long =
    retryOnConflict("unsetProperties", dir) {
      require(keys.nonEmpty, "no properties to unset")
      val (cur, man) = snapshot(spark, dir)
      commitManifest(spark, dir, cur + 1, man.copy(props = man.props -- keys))
      cur + 1
    }

  /** RESTORE — roll the live table back (or forward) to `toVersion`'s
    * snapshot by committing a NEW version that re-lists that
    * snapshot's files: pure metadata, O(manifest), zero rows moved or
    * rewritten — the Delta RESTORE shape, and the operational answer
    * to "a bad batch landed an hour ago" on a 100 TB table. History
    * is untouched (the bad versions stay readable until [[vacuum]]),
    * and the restored files are RE-REFERENCED by the new manifest, so
    * the unreferenced-file sweep keeps them live however old their
    * origin. The changefeed prices the rollback honestly: the diff
    * from the bad head to the restored head is the real row-level
    * undo, fingerprint-pruned to the buckets that actually differ.
    * Bucket width and content fingerprints inherit from the restored
    * manifest verbatim (later upserts bucket at the restored width —
    * restore across a [[rebucket]] restores the width too). */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Long =
    retryOnConflict("restore", dir) {
      val (cur, head) = snapshot(spark, dir)
      val old = readManifestFull(spark, dir, toVersion)
      // CHECK constraints live UNVERSIONED in _constraints/, so a
      // restore to a pre-constraint snapshot could silently publish a
      // live version that violates a declared invariant — breaking the
      // addConstraint contract ("existing data always holds") every
      // later per-write enforcement leans on. Re-validate the restored
      // snapshot's rows first and fail loudly BEFORE committing: one
      // O(restored snapshot) scan, the same price addConstraint paid —
      // the operator drops the constraint deliberately if the rollback
      // must win.
      // validate the LOGICAL view of the restored snapshot: a
      // constraint is declared against logical names, so handing
      // enforceConstraints the physical frame would silently skip
      // (fail-to-resolve) any constraint over a renamed column —
      // exactly the silent-disable this re-validation exists to stop
      if (old.entries.nonEmpty)
        enforceConstraints(spark, dir,
          applyLogicalView(readEntries(spark, dir, old, old.entries),
            old.cols), "restore")
      // streaming idempotency tokens track the STREAM's applied
      // frontier, which a data rollback does not rewind (the stream's
      // checkpoint still records those batches as committed — replaying
      // them would double-apply onto the restored state): carry the
      // max of head's and the restored snapshot's per-stream ids.
      val toks = (head.tokens.keySet ++ old.tokens.keySet).map { sid =>
        sid -> math.max(head.tokens.getOrElse(sid, Long.MinValue),
          old.tokens.getOrElse(sid, Long.MinValue))
      }.toMap
      // deletion-vector state restores WITH the data (old.dvs/old.dvf
      // — the tombstones are part of the snapshot's logical content;
      // their files are retained with the manifest that names them);
      // table PROPERTIES keep the head's values (operational config,
      // not data — a rollback must not silently flip, say, the
      // delete-mode knob back)
      commitManifest(spark, dir, cur + 1,
        old.copy(tokens = toks, props = head.props))
      cur + 1
    }

  /** [[restore]] resolved by TIMESTAMP instead of version — the
    * "roll back to before the bad batch landed at 02:14" operator
    * idiom: resolution rides [[versionAsOf]]'s strictly-monotone
    * effective commit times (loud when the timestamp predates retained
    * history — a rollback must never silently restore the oldest
    * survivor instead of the snapshot the operator named). */
  def restoreAsOf(spark: SparkSession, dir: String,
      tsMillis: Long): Long =
    restore(spark, dir, versionAsOf(spark, dir, tsMillis))

  /** [[vacuum]] with a TIME-based retention contract (the Delta
    * `VACUUM … RETAIN <n> HOURS` muscle memory, re-expressed over
    * this table's version-expiry semantics): every version whose
    * EFFECTIVE commit time ([[commitTimes]] — in-commit, persisted
    * monotone) falls within `retainMillis` of now survives; the
    * current version and every tag pin survive regardless (the
    * [[vacuum]] contract). Because effective times are strictly
    * increasing, the retained set is exactly a version suffix, so
    * this delegates to the version sweep — one retention
    * implementation, two dialects. The cutoff resolves to a concrete
    * VERSION FLOOR before the sweep (not a keep-count): a commit
    * landing between the clock read and the sweep's own listing
    * grows the retained set instead of shifting a count-based suffix
    * past a version still inside the window. */
  def vacuumRetainTime(spark: SparkSession, dir: String,
      retainMillis: Long,
      minFileAgeMs: Long = DefaultVacuumGraceMs): VacuumStats = {
    require(retainMillis >= 0L, "retention window must be non-negative")
    val cutoff = System.currentTimeMillis() - retainMillis
    val times = commitTimes(spark, dir)
    val floor = times.find(_._2 >= cutoff).map(_._1)
      .orElse(times.lastOption.map(_._1))
    vacuumWithHook(spark, dir, 1, () => (), minFileAgeMs,
      keepFrom = floor)
  }

  /** Shared validation + metadata-only commit for the two schema
    * evolution verbs beyond extend-only. The PHYSICAL column names in
    * the parquet files are immutable; the manifest's `#col=` mapping
    * is what changes — so both verbs are O(manifest) commits that
    * move zero rows, re-list the same files, and inherit fingerprints
    * verbatim (a rename/drop-only window is CDC-free by the same
    * fingerprint identity that makes OPTIMIZE free to diff across).
    * Time travel reads every snapshot under its own names. */
  private def alterMapping(spark: SparkSession, dir: String,
      op: String, name: String,
      newLogical: Option[String]): Long =
    retryOnConflict(op, dir) {
      val key = keyMeta(spark, dir, None)
      require(name != key,
        s"the key column $key cannot be ${if (newLogical.isEmpty) "dropped"
          else "renamed"} — it is the table's bucket identity")
      newLogical.foreach { to =>
        require(to != key && to != "bucket" && to != "v",
          s"'$to' collides with the key or a reserved layout name")
        require(to.nonEmpty &&
          !to.exists(c => c == ':' || c == '|' || c == '\n' || c == '\r'),
          s"column name '$to' may not be empty or contain ':', '|', " +
            "or line breaks")
      }
      val (cur, man) = snapshot(spark, dir)
      val logical = readTable(spark, dir, Some(cur)).columns.toSet -
        "bucket"
      require(logical.contains(name),
        s"$op: no column '$name' in the table " +
          s"(${logical.toSeq.sorted.mkString(",")})")
      newLogical.foreach(to => require(!logical.contains(to),
        s"$op: column '$to' already exists"))
      // the physical slot the logical name currently occupies
      val p = physOf(man, name)
      require(!p.exists(c => c == ':' || c == '|'),
        s"$op: physical column '$p' carries mapping delimiters — " +
          "this table predates clean-name enforcement; rewrite it")
      // a rename target may not land on an OCCUPIED physical slot
      // either (a name previously renamed away or dropped): the files
      // keep that physical name forever, so toPhysical would reject
      // every later batch carrying the new logical name — the table
      // would become unwritable under its own schema. Loud here, at
      // rename time, as the doc promises. The one exception is the
      // rename-back-home case (to == p), which VACATES the slot.
      newLogical.foreach { to =>
        require(!man.cols.contains(to) || to == p,
          s"$op: '$to' is an occupied physical slot (a column once " +
            s"named '$to' was renamed away or dropped; its files keep " +
            "that name forever) — pick a fresh name")
      }
      val newCols =
        if (newLogical.contains(p)) man.cols - p // renamed back home
        else man.cols + (p -> newLogical.getOrElse(""))
      // every declared CHECK constraint must still RESOLVE on the
      // post-change schema: enforcement silently skips non-resolving
      // expressions (the extend-only rationale), so letting a rename/
      // drop orphan one would disable it without a trace
      val post = applyLogicalView(
        readEntries(spark, dir, man, man.entries).limit(0), newCols)
      constraints(spark, dir).foreach { case (n, e) =>
        require(scala.util.Try(post.select(expr(e))).isSuccess,
          s"$op: CHECK constraint '$n' ($e) references '$name' — drop " +
            "(and re-add under the new schema) first")
      }
      commitManifest(spark, dir, cur + 1, man.copy(cols = newCols))
      cur + 1
    }

  /** RENAME a column — a pure-metadata commit (the Iceberg/Delta
    * column-mapping model): the files keep their physical name, the
    * new manifest maps it to `to`, and every consumer — reads, SQL
    * TVFs, upsert/merge batches (which arrive in logical names),
    * constraints, the changefeed — speaks the new name from this
    * version on while time travel keeps the old one. The KEY column
    * is not renamable (bucket identity); a name once renamed away
    * cannot be re-used (its physical slot is occupied — loud). */
  def renameColumn(spark: SparkSession, dir: String, from: String,
      to: String): Long =
    alterMapping(spark, dir, "renameColumn", from, Some(to))

  /** DROP a column — metadata-only; the bytes stay in the files (old
    * snapshots still read them; rewritten buckets shed them
    * incrementally) but every read at this version onward excludes
    * the column, upsert batches must not carry it, and the changefeed
    * stops reporting it. Not reversible by name (the physical slot
    * stays occupied); the key column cannot be dropped. */
  def dropColumn(spark: SparkSession, dir: String, name: String): Long =
    alterMapping(spark, dir, "dropColumn", name, None)

  /** WIDEN a column's type — the Iceberg type-promotion model as a
    * metadata commit: int family → long, float → double, decimal
    * precision growth at the same scale. The files keep their narrow
    * physical type forever; from this version on every read SCANS
    * under the widened schema (Spark's parquet readers upcast
    * natively, so predicate pushdown and `#st=` stats pruning work on
    * the widened column exactly as on a native one — integral and
    * same-scale-decimal bounds are long-encoded identically in both
    * regimes), new epochs physically store the wide type, and time
    * travel reads each snapshot under its own declared regime.
    *
    * The ONE non-metadata cost is honest and paid here: bucket
    * content fingerprints hash TYPED values, so existing buckets are
    * RE-ATTESTED under the widened types in the same commit — one
    * O(snapshot) columnar read, ZERO data writes (at 100 TB this is
    * a scan, not a rewrite — still ~3 orders cheaper than Delta's
    * pre-widening full-table rewrite migration). A changefeed window
    * straddling the declaration falls back from fp identity to
    * entry+tombstone identity ([[changedBuckets]]) and stays quiet.
    *
    * The KEY column is not widenable (bucket identity and the
    * KeyHexMeta pruning stamp ride its physical form); narrowing or
    * cross-family casts refuse loudly. `name` is the LOGICAL name;
    * `target` a type DDL string (`bigint`, `double`,
    * `decimal(14,2)`). */
  def widenColumn(spark: SparkSession, dir: String, name: String,
      target: String): Long =
    retryOnConflict("widenColumn", dir) {
      val key = keyMeta(spark, dir, None)
      val (cur, man) = snapshot(spark, dir)
      val phys = physOf(man, name)
      require(!man.cols.get(phys).contains(""),
        s"widenColumn: '$name' was dropped from this table")
      require(phys != key && name != key,
        "widenColumn: the key column cannot be widened (bucket " +
          "identity and the pruning stamp ride its physical form)")
      val to = org.apache.spark.sql.types.DataType.fromDDL(target)
      // current EFFECTIVE type: the head read's schema (any prior
      // widening already applied) — widening is monotone
      val schema =
        readEntries(spark, dir, man, liveEntries(dir, cur, man)).schema
      require(schema.fieldNames.contains(phys),
        s"widenColumn: no column '$name' in the current snapshot " +
          s"(${schema.fieldNames.mkString(",")})")
      val from = schema(phys).dataType
      require(canWiden(from, to),
        s"widenColumn: ${from.simpleString} -> ${to.simpleString} is " +
          "not a lossless promotion (int family -> long, float -> " +
          "double, decimal precision growth at the same scale)")
      val wides1 = widesOf(man.props) + (phys -> to)
      // RE-ATTESTATION: recompute every bucket's live-content
      // fingerprint under the widened hash regime (DV-applied — fps
      // attest LIVE rows); a bucket attested before but with zero
      // live rows keeps its width-matched all-zero attestation
      val live = readEntries(spark, dir,
        man.copy(props = man.props +
          (WidenPropPrefix + phys -> to.catalogString)), man.entries)
      val payload = live.columns.filter(_ != "bucket").sorted.toSeq
      val computed = live
        .select(col("bucket") +: fpHashCols(payload): _*)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("fp_h").as("h"),
          sum("fp_h2").as("h2"))
        .collect()
        .map(r => r.getString(0) ->
          s"${r.getLong(1)}:${BigInt(r.getDecimal(2).toBigInteger)}:${
            BigInt(r.getDecimal(3).toBigInteger)}")
        .toMap
      val newFps = man.fps.map { case (b, fp) =>
        b -> computed.getOrElse(b,
          fp.split(":").map(_ => "0").mkString(":"))
      } ++ (computed -- man.fps.keySet)
      commitManifest(spark, dir, cur + 1, man.copy(fps = newFps,
        props = man.props + (WidenPropPrefix + phys -> to.catalogString)))
      cur + 1
    }

  private def conflict(dir: String, v: Long,
      cause: Throwable): Nothing =
    throw new CommitConflictException(
      s"commit conflict: version $v at $dir was committed concurrently",
      cause)

  /** ATOMIC COMMIT: the manifest body is fully written to a hidden temp
    * sibling, then PROMOTED to `v<N>` by an atomic create-no-overwrite —
    * a hard link where the store is a local filesystem (link(2) is
    * atomic and fails with EEXIST, exactly the no-overwrite race all
    * snapshot stores reduce their commit to), an atomic
    * fails-on-existing rename otherwise (the HDFS contract; an object
    * store substitutes its conditional put). A concurrent committer of
    * the same version loses with an explicit conflict; a crash at any
    * point leaves either a complete committed manifest or an invisible
    * temp file [[vacuum]] sweeps — never a readable half-manifest. A
    * pre-existing ZERO-LENGTH `v<N>` is deleted and re-raced only when
    * it sits AT OR ABOVE the highest non-empty version (a torn write);
    * below it, it is a legacy committed-empty snapshot whose version
    * number must never be reassigned (see [[versions]]).
    *
    * `man` is the whole next manifest — the base snapshot with one
    * change applied — so a writer carries every annotation of its base
    * whole: per-file (`#st`, `#bl`, `#dvf`) and per-epoch (`#esch`)
    * lines are written only for the files and epochs `man.entries`
    * still lists. `#fp` and `#dv` lines are written as given. `man.ts`
    * is ignored: the commit stamps its own. `beforePromote` is a
    * spec-only injection point between the temp write and the
    * promotion (the window a concurrent vacuum's stale-temp sweep can
    * race). */
  private[ext] def commitManifest(spark: SparkSession, dir: String,
      v: Long, man: ManifestData,
      beforePromote: () => Unit = () => ()): Unit = {
    val ManifestData(hexDigits, entries, fps, tokens, sts, cols, dvs, dvf,
      props, bls, _, eschs) = man
    val fs = hadoopFs(spark, dir)
    fs.mkdirs(manifestDir(dir))
    val p = manifestPath(dir, v)
    try {
      val st = fs.getFileStatus(p)
      if (st.getLen > 0) conflict(dir, v, null)
      val maxNonEmpty = manifestLens(spark, dir)
        .collect { case (mv, len) if len > 0 => mv }.maxOption
      if (maxNonEmpty.exists(_ > v))
        throw new IllegalArgumentException(
          s"version $v at $dir is a legacy committed-empty snapshot " +
            "(zero-length manifest below the newest version) — its " +
            "number is history and cannot be re-committed")
      fs.delete(p, false) // zero-length TORN garbage: eligible for overwrite
    } catch { case _: java.io.FileNotFoundException => }
    val tmp = new Path(manifestDir(dir), f".v$v%09d.${attemptTag()}.tmp")
    val out = fs.create(tmp, true)
    val fpLines = fps.toSeq.sortBy(_._1)
      .map { case (b, fp) => s"#fp=$b:$fp" }
    val tokLines = tokens.toSeq.sortBy(_._1).map { case (sid, id) =>
      require(!sid.contains('\n') && !sid.contains('\r'),
        "idempotency stream id must be a single line")
      s"#tok=$sid:$id"
    }
    // stats only for files the manifest actually lists (a carried-
    // forward map may hold entries for dropped files). The line is
    // VERSION-GATED by bound kind: `#st=` carries only the tokens the
    // pre-round-15 wire format defined (bare longs / all-null), and
    // string `s<hex>` bounds ride a separate `#st2=` header — a legacy
    // reader parsing `s<hex>` through toLongOption would read
    // (None, None), its all-null encoding, and wrongly PRUNE; an
    // unknown `#st2=` header it merely skips (column unattested, file
    // kept), the sound degradation.
    val entrySet = entries.toSet
    val stLines = sts.toSeq.filter(e => entrySet.contains(e._1))
      .sortBy(_._1).flatMap { case (f, body) =>
        val segs = body.split('|').toSeq.filter(_.nonEmpty)
        val (typed, legacy) = segs.partition { seg =>
          seg.split(":", -1) match {
            case Array(_, mn, mx) =>
              (mn.nonEmpty && mn.charAt(0) == 's') ||
                (mx.nonEmpty && mx.charAt(0) == 's')
            case _ => false
          }
        }
        (if (legacy.nonEmpty || segs.isEmpty)
           Seq(s"#st=$f|${legacy.mkString("|")}") else Nil) ++
        (if (typed.nonEmpty) Seq(s"#st2=$f|${typed.mkString("|")}")
         else Nil)
      }
    val colLines = cols.toSeq.sortBy(_._1)
      .map { case (p, l) => s"#col=$p:$l" }
    // DELETION VECTORS: only data files the manifest still LISTS keep
    // their tombstone annotation (a rewrite materializes the deletes,
    // so its files' dvf lines drop here, exactly like stats); once no
    // dirty file remains the dv files themselves stop being referenced
    // (vacuum reclaims them) and the reader-capability gate lifts.
    val dvfLive = dvf.view.filterKeys(entrySet).toMap
    val dvLines =
      if (dvfLive.isEmpty) Nil
      else Seq("#requires=dv") ++
        dvs.distinct.sorted.map(p => s"#dv=$p") ++
        dvfLive.toSeq.sortBy(_._1).map { case (f, n) => s"#dvf=$f:$n" }
    val propLines = props.toSeq.sortBy(_._1).map { case (k, pv) =>
      require(!k.contains(':') && !(k + pv).exists(c =>
          c == '\n' || c == '\r'),
        s"table property key '$k' must be ':'-free and single-line")
      s"#prop=$k:$pv"
    }
    // blooms only for files the manifest lists (the stats discipline)
    val blLines = bls.toSeq.filter(e => entrySet.contains(e._1))
      .sortBy(_._1).map { case (f, body) => s"#bl=$f|$body" }
    // epoch schemas only for epochs that still own a listed entry
    val liveEpochs = entries.map(e => e.take(e.indexOf('/'))).toSet
    val eschLines = eschs.toSeq.filter(e => liveEpochs.contains(e._1))
      .sortBy(_._1).map { case (ep, json) =>
        require(!json.exists(c => c == '\n' || c == '\r'),
          s"epoch schema for $ep must be single-line JSON")
        s"#esch=$ep|$json"
      }
    // the IN-COMMIT TIMESTAMP is monotonized AT WRITE TIME against the
    // predecessor's EFFECTIVE commit time — the same fold
    // [[commitTimes]] resolves AS OF against, NOT the predecessor's
    // raw `#ts=`/mtime: with only read-time monotonization (or a
    // raw-anchored write), vacuuming early versions under writer
    // clock skew could shift later versions' EFFECTIVE times
    // backwards and re-resolve a past AS OF probe to a different
    // snapshot — including on tables with a legacy (mtime-clocked)
    // prefix, where raw clocks may interleave and the raw anchor
    // undercuts the chain. A persisted-monotone chain is stable
    // under any history expiry; [[commitTimes]]' read-time pass
    // remains for legacy manifests and is the identity over commits
    // written here. Raw clocks ride [[rawTs]]'s immutable cache, so
    // a warm writer pays ZERO extra manifest reads for the anchor.
    val prevEff = effectiveTs(spark, dir,
      versions(spark, dir).filter(_ < v))
    val commitTs = math.max(System.currentTimeMillis(),
      prevEff.map(_ + 1L).getOrElse(Long.MinValue))
    try out.write(
      ((Seq(s"#hex=$hexDigits",
        s"#ts=$commitTs") ++ tokLines) ++
        propLines ++ colLines ++ eschLines ++
        dvLines ++ fpLines ++
        stLines ++ blLines ++ entries.sorted).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    beforePromote()
    val qualified = fs.makeQualified(p)
    if (qualified.toUri.getScheme == "file") {
      try java.nio.file.Files.createLink(
        java.nio.file.Paths.get(qualified.toUri.getPath),
        java.nio.file.Paths.get(
          fs.makeQualified(tmp).toUri.getPath))
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false); conflict(dir, v, e)
        case e: java.nio.file.NoSuchFileException =>
          // our temp vanished mid-promotion: a concurrent vacuum's
          // stale-temp sweep collected it, which only happens once the
          // version is committed (temps at or below the current version
          // are by definition race losers) — the same state the HDFS
          // branch reports as a clean conflict, so map it identically
          // rather than letting a raw NoSuchFileException escape the
          // retry loop
          fs.delete(tmp, false); conflict(dir, v, e)
      }
      fs.delete(tmp, false)
    } else {
      // HDFS-shaped stores: rename is atomic and returns false when the
      // destination exists — the same no-overwrite promotion
      if (!fs.rename(tmp, p)) { fs.delete(tmp, false); conflict(dir, v, null) }
    }
    // the promoted manifest's raw clock is now immutable — seed the
    // cache so the successor commit's monotone anchor is read-free
    rawTsCache.put((dir, v), java.lang.Long.valueOf(commitTs))
    // a fresh commit at a (dir, v) this JVM saw before means the table
    // was externally deleted and re-created — drop the stale parse (the
    // (len, modTime) guard also catches this, except inside one modtime
    // tick; this makes the same-JVM case airtight)
    manifestCache.remove((dir, v))
  }

  private def bucketOfEntry(e: String): String = {
    val m = "bucket=([0-9a-f]+)".r.findFirstMatchIn(e)
    m.map(_.group(1)).getOrElse(sys.error(s"manifest entry without bucket: $e"))
  }

  /** List the data files a just-written epoch attempt produced, as
    * manifest entries — a name-walk of O(buckets) dirs (the q92 listing
    * discipline: names, never block locations). */
  private def epochEntries(spark: SparkSession, dir: String,
      epochName: String): Seq[String] = {
    val fs = hadoopFs(spark, dir)
    val epoch = new Path(s"$dir/data/$epochName")
    if (!fs.exists(epoch)) Seq.empty
    else fs.listStatus(epoch).toSeq.filter(_.isDirectory).flatMap { d =>
      fs.listStatus(d.getPath).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.map(st => s"$epochName/${d.getPath.getName}/${st.getPath.getName}")
    }
  }

  /** Salt prepended (as a constant first hash input) to the second
    * fingerprint channel: `h2 = xxhash64('fp2', payload...)` mixes the
    * same bytes through an independent avalanche, so two offsetting
    * payload changes whose `h1` deltas cancel (a 2⁻⁶⁴ accident — or a
    * constructed one, now that the fingerprint also backs
    * [[fsckDeep]]'s integrity audit) would have to cancel BOTH sums:
    * 128-bit resistance for one extra codegen'd hash per row, same
    * aggregate shape, same cost class. */
  private val Fp2Salt = "fp2"

  /** The two per-row fingerprint hash columns over `payload` (sorted
    * column names) — shared by the epoch write-back and [[fsckDeep]]'s
    * recompute so the attestation and the audit can never drift.
    * `wides` canonicalizes the hash inputs to the table's DECLARED
    * types (xxhash64 is width-sensitive: int 5 and long 5 hash
    * differently), so an epoch physically storing the narrow type
    * still fingerprints identically to the widened read every OTHER
    * hash site sees — [[widenColumn]] re-attests existing buckets
    * under the same contract. Callers whose input relation is already
    * the widened read pass nothing. */
  private def fpHashCols(payload: Seq[String],
      wides: Map[String, org.apache.spark.sql.types.DataType] =
        Map.empty): Seq[Column] = {
    def pc(c: String): Column =
      wides.get(c).map(col(c).cast(_)).getOrElse(col(c))
    Seq(
      xxhash64(payload.map(pc): _*).cast("decimal(38,0)").as("fp_h"),
      xxhash64((lit(Fp2Salt) +: payload.map(pc)): _*)
        .cast("decimal(38,0)").as("fp_h2"))
  }

  /** Component-prefix fingerprint comparison: fingerprints are
    * `rows:h1[:h2]` — current commits write all three, legacy
    * manifests only two — and two attestations agree when every
    * component BOTH carry matches. Comparing the common prefix keeps
    * pruning and auditing working across the format upgrade (a legacy
    * endpoint simply gets the old 64-bit guarantee); once both sides
    * are current, all three components must match. */
  private def fpAgrees(a: String, b: String): Boolean = {
    val as = a.split(":"); val bs = b.split(":")
    as.zip(bs).forall { case (x, y) => x == y }
  }

  /** Per-bucket CONTENT fingerprint of a just-written epoch: row count
    * plus TWO order-independent hash sums (xxhash64 of the payload
    * columns in sorted-name order, and the same bytes under the
    * [[Fp2Salt]] channel, each summed as exact decimal — sums are
    * commutative, so a layout rewrite that only reorders rows computes
    * identical values; two channels make a cancelling-delta collision
    * a 128-bit event). Computed by reading back the epoch's own
    * files — one columnar scan of exactly the rewritten data, the same
    * cost class as the write it annotates — so the fingerprint attests
    * what is ON DISK, not what the plan intended. xxhash64 skips null
    * inputs, so an extend-only schema evolution leaves pre-evolution
    * rows' hashes unchanged (consistent with [[changes]], which treats
    * null-extended old rows as unchanged payloads). */
  private def epochFingerprints(spark: SparkSession, dir: String,
      epochName: String): Map[String, String] =
    epochStats(spark, dir, epochName)._1

  /** Columns a manifest carries PER-FILE min/max stats for —
    * integrals, dates (epoch days), timestamps (epoch micros),
    * decimals of precision ≤ 18 (unscaled longs at the column's own
    * scale), and strings (truncated bounds, the Iceberg model; see
    * [[StatBound]]) — names clean of the stats line's own delimiters.
    * TIMESTAMP_NTZ attests under the WALL-CLOCK-MICROS contract: NTZ
    * carries no zone by definition, its external value is a
    * LocalDateTime and its Catalyst-internal value the micros of that
    * wall time rendered as-if-UTC — both sides of the bound compare
    * (write-side aggregate, plan-time literal) use that same
    * session-timezone-FREE encoding, so a bound written under one
    * session timezone prunes identically under any other
    * (StatsFilePruningSpec pins the cross-timezone identity). */
  private def statColumns(
      schema: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.types.StructField] = {
    import org.apache.spark.sql.types._
    schema.fields.filter { f =>
      f.name != "bucket" &&
      !f.name.exists(c => c == '|' || c == ':') &&
      (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case DateType | TimestampType | TimestampNTZType |
             StringType => true
        case d: DecimalType => d.precision <= 18
        case _ => false
      })
    }.sortBy(_.name).toSeq
  }

  /** Encode one native min/max aggregate value as a [[StatBound]]
    * manifest token. None = this side cannot be represented (string
    * upper bound with no widening room, a decimal that overflows a
    * long) — the caller then leaves the COLUMN unattested for the
    * file rather than narrow a bound. */
  private def encodeStat(
      dt: org.apache.spark.sql.types.DataType, v: Any,
      isMax: Boolean): Option[String] = {
    import org.apache.spark.sql.types._
    (dt, v) match {
      case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
        Some(StatBound.L(n.longValue).token)
      case (DateType, d: java.sql.Date) =>
        Some(StatBound.L(d.toLocalDate.toEpochDay).token)
      case (DateType, d: java.time.LocalDate) =>
        Some(StatBound.L(d.toEpochDay).token)
      case (TimestampType, t: java.sql.Timestamp) =>
        Some(StatBound.L(Math.addExact(Math.multiplyExact(
          Math.floorDiv(t.getTime, 1000L), 1000000L),
          t.getNanos / 1000L)).token)
      case (TimestampType, t: java.time.Instant) =>
        Some(StatBound.L(Math.addExact(Math.multiplyExact(
          t.getEpochSecond, 1000000L), t.getNano / 1000L)).token)
      case (TimestampNTZType, t: java.time.LocalDateTime) =>
        // wall-clock micros (as-if-UTC): the zone-free encoding NTZ's
        // Catalyst-internal long uses, so plan-time literals compare
        // under the identical contract in every session timezone
        Some(StatBound.L(Math.addExact(Math.multiplyExact(
          t.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
          t.getNano / 1000L)).token)
      case (d: DecimalType, b: java.math.BigDecimal) =>
        scala.util.Try(StatBound.L(
          b.setScale(d.scale).unscaledValue.longValueExact).token).toOption
      case (StringType, s: String) =>
        if (isMax) StatBound.truncMax(s).map(_.token)
        else Some(StatBound.truncMin(s).token)
      case _ => None
    }
  }

  /** ONE read-back scan of a just-written epoch serving BOTH manifest
    * annotations: per-BUCKET content fingerprints (`#fp=` — the
    * changefeed short-circuit and fsckDeep's attestation) and per-FILE
    * min/max column stats (`#st=` — the value-predicate FILE pruning
    * [[graft.plans.StatsFilePruning]] applies at plan time, the
    * Iceberg/Delta manifest-stats model). Grouped by file path — the
    * finer grain — with the bucket fingerprints folded from the
    * per-file rows driver-side (hash SUMS are associative, so the fold
    * is exact; driver rows are O(epoch files), the manifest cost
    * class). Stats cover the integral payload columns; min/max are of
    * non-null values, an all-null file rendering as an empty range a
    * null-rejecting predicate may prune. */
  private def epochStats(spark: SparkSession, dir: String,
      epochName: String,
      wides: Map[String, org.apache.spark.sql.types.DataType] =
        Map.empty,
      shared: Option[DataFrame] = None)
      : (Map[String, String], Map[String, String], String) = {
    val epochPath = s"$dir/data/$epochName"
    val df = shared.getOrElse(
      spark.read.option("basePath", epochPath).parquet(epochPath))
    // the epoch's DATA schema (the `#esch=` line) rides THIS relation —
    // the read-back the fingerprints require anyway — so a commit pays
    // exactly one listing + footer resolution, not a second one
    val schemaJson = org.apache.spark.sql.types.StructType(
      df.schema.filterNot(_.name == "bucket")).json
    val payload = df.columns.filter(_ != "bucket").sorted
    val stCols = statColumns(df.schema)
    // the bucket id comes from the FILE PATH, not the inferred
    // partition column: partition-type inference turns an epoch whose
    // bucket names happen to be all-digits ("bucket=47") into an int
    // column — and "bucket=07" would round-trip as "7", corrupting the
    // fingerprint key; the path substring is exact by construction
    // the stats key is the manifest ENTRY relpath — exactly the last
    // three path segments (<epochName>/bucket=xx/<file>; epochName is
    // slash-free by construction). Anchoring at the END, not at the
    // first "/data/", keeps the key correct for a table whose own dir
    // contains "/data/" (e.g. /x/data/t), where a first-match
    // extraction would yield "t/data/v=..." — a key no manifest entry
    // carries, silently disabling stats pruning for that table.
    val selected = df.select(Seq(
        regexp_extract(col("_metadata.file_path"),
          "([^/]+/bucket=[0-9a-f]+/[^/]+)$", 1).as("fp_file"),
        regexp_extract(col("_metadata.file_path"),
          "bucket=([0-9a-f]+)/", 1).as("fp_bucket")) ++
      fpHashCols(payload, wides) ++ stCols.map(f => col(f.name)): _*)
    // min/max are aggregated NATIVELY (string/date/decimal semantics
    // are the engine's own) and encoded driver-side into StatBound
    // tokens — O(epoch files) driver rows, the manifest cost class
    val aggs = Seq(count(lit(1)).as("n"), sum("fp_h").as("h"),
        sum("fp_h2").as("h2")) ++
      stCols.zipWithIndex.flatMap { case (f, i) => Seq(
        min(col(f.name)).as(s"mn_$i"),
        max(col(f.name)).as(s"mx_$i"))
      }
    val rows = selected.groupBy("fp_file", "fp_bucket")
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val fps = rows.groupBy(_.getString(1)).map { case (b, rs) =>
      val n = rs.map(_.getLong(2)).sum
      val h1 = rs.map(r => BigInt(r.getDecimal(3).toBigInteger)).sum
      val h2 = rs.map(r => BigInt(r.getDecimal(4).toBigInteger)).sum
      b -> s"$n:$h1:$h2"
    }
    val sts = rows.map { r =>
      val body = stCols.zipWithIndex.flatMap { case (f, i) =>
        val (rawMn, rawMx) = (r.get(5 + 2 * i), r.get(6 + 2 * i))
        if (rawMn == null && rawMx == null)
          Some(s"${f.name}::") // all-null file: prunable empty range
        else {
          val mn = encodeStat(f.dataType, rawMn, isMax = false)
          val mx = encodeStat(f.dataType, rawMx, isMax = true)
          // a side that cannot be represented leaves the COLUMN
          // unattested for this file — absent beats a narrowed bound
          (mn, mx) match {
            case (Some(a), Some(b)) => Some(s"${f.name}:$a:$b")
            case _ => None
          }
        }
      }.mkString("|")
      r.getString(0) -> body
    }.toMap
    (fps, sts, schemaJson)
  }

  /** Per-file BLOOM FILTERS of a just-written epoch, for the columns
    * the `graft.bloom.columns` table property names (integral/string
    * columns; others fall out at probe time) — EQUALITY-predicate file
    * skipping for columns the layout does NOT cluster by, where
    * min/max stats span near-global ranges and can never skip a file.
    * k = 4 probe positions per value from disjoint md5 slices of the
    * value's STRING rendering (the q91 arithmetic — exactly
    * restatable in the oracle, so acceptance pins planned file counts
    * EXACTLY, collisions and all), OR-ed into m/64 words per (file,
    * column); `graft.bloom.bits` sizes m (default 4096 — 512 bytes of
    * manifest line per file-column; size for rows-per-stripe, and
    * pair with STRIPE so n per file keeps the filter sparse). One
    * extra columnar scan of the epoch, paid only by bloom-enabled
    * tables; driver rows are O(files × m/64), the manifest cost
    * class. Advisory: a bloom-blind reader prunes nothing (sound). */
  private def epochBlooms(spark: SparkSession, dir: String,
      epochName: String, blCols: Seq[String], mBits: Long,
      shared: Option[DataFrame] = None)
      : Map[String, String] = {
    require(mBits >= 64 && mBits % 64 == 0,
      s"graft.bloom.bits must be a positive multiple of 64, got $mBits")
    blCols.foreach(c => require(
      c.nonEmpty && !c.exists(ch => ch == ':' || ch == '|' || ch == '`'),
      s"graft.bloom.columns name '$c' carries delimiters"))
    val epochPath = s"$dir/data/$epochName"
    val df = shared.getOrElse(
      spark.read.option("basePath", epochPath).parquet(epochPath))
    val present = blCols.filter(df.columns.contains)
    if (present.isEmpty) return Map.empty
    val fileCol = regexp_extract(col("_metadata.file_path"),
      "([^/]+/bucket=[0-9a-f]+/[^/]+)$", 1).as("fp_file")
    val perCol = present.map { c =>
      val posArr =
        s"""transform(sequence(0, 3), i ->
           |  cast(conv(substring(md5(cast(`$c` as string)),
           |    1 + i * 8, 8), 16, 10) as bigint) % $mBits""".stripMargin +
          ")"
      df.filter(col(c).isNotNull)
        .select(fileCol, lit(c).as("bl_col"),
          explode(expr(posArr)).as("p"))
    }.reduce(_ unionAll _)
    val words = perCol
      .groupBy(col("fp_file"), col("bl_col"),
        expr("cast(p div 64 as int)").as("wd"))
      .agg(expr("bit_or(shiftleft(cast(1 as bigint), " +
        "cast(p % 64 as int)))").as("bits"))
      .collect()
    words.groupBy(_.getString(0)).map { case (f, rs) =>
      val body = rs.groupBy(_.getString(1)).toSeq.sortBy(_._1)
        .map { case (c, ws) =>
          val arr = new Array[Long]((mBits / 64).toInt)
          ws.foreach(r => arr(r.getInt(2)) = r.getLong(3))
          val bb = java.nio.ByteBuffer.allocate(arr.length * 8)
          arr.foreach(bb.putLong)
          s"$c:$mBits:${java.util.Base64.getEncoder
            .encodeToString(bb.array())}"
        }.mkString("|")
      f -> body
    }
  }

  /** Stats + (optional) bloom annotations of a just-written epoch in
    * ONE relation resolution and — on bloom-enabled tables — two
    * CONCURRENT jobs instead of two sequential scans (guide §2.6: the
    * two aggregations are independent reads of the same immutable
    * just-written files, so overlapping them hides the smaller job's
    * wall time inside the larger's; before this every commit on a
    * bloom table paid the two scans back to back, plus a second
    * relation resolution). Returns (fps, sts, epoch schema json,
    * blooms). */
  private def epochAnnotations(spark: SparkSession, dir: String,
      epochName: String,
      wides: Map[String, org.apache.spark.sql.types.DataType],
      props: Map[String, String])
      : (Map[String, String], Map[String, String], String,
         Map[String, String]) = {
    val blCols = props.get("graft.bloom.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    if (blCols.isEmpty) {
      val (fps, sts, sch) = epochStats(spark, dir, epochName, wides)
      (fps, sts, sch, Map.empty)
    } else {
      val mBits = props.get("graft.bloom.bits").map(_.toLong)
        .getOrElse(4096L)
      val epochPath = s"$dir/data/$epochName"
      val df = spark.read.option("basePath", epochPath).parquet(epochPath)
      val statsF = scala.concurrent.Future(
        epochStats(spark, dir, epochName, wides, Some(df)))(
        scala.concurrent.ExecutionContext.global)
      val bls = epochBlooms(spark, dir, epochName, blCols, mBits,
        Some(df))
      val (fps, sts, sch) = scala.concurrent.Await.result(statsF,
        scala.concurrent.duration.Duration.Inf)
      (fps, sts, sch, bls)
    }
  }

  /** Probe positions of one value's string rendering — the PLAN-time
    * twin of [[epochBlooms]]' write-side arithmetic (identical md5
    * slices, identical modulus). */
  private[graft] def bloomPositions(rendered: String,
      mBits: Long): Seq[Long] = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(rendered.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    (0 until 4).map(i =>
      java.lang.Long.parseLong(h.substring(i * 8, i * 8 + 8), 16) % mBits)
  }

  /** Per-file bloom filters of the table at `dir`: entry relpath →
    * column → (m bits, words), unioned over every retained manifest
    * (file and bloom are immutable together — the stats discipline).
    * Cached per dir against the manifest listing. Not checkpointed
    * (blooms are the BULKY annotation; the read is O(retained
    * manifests), bounded by vacuum retention). */
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(Long, Long)],
      Map[String, Map[String, (Long, Array[Long])]])]()

  private[graft] def fileBloomIndex(spark: SparkSession, dir: String)
      : Map[String, Map[String, (Long, Array[Long])]] = {
    val key = new Path(dir).toUri.toString
    val listing = manifestLens(spark, dir)
    val cached = bloomCache.get(key)
    if (cached != null && cached._1 == listing) return cached._2
    val built = listing.map(_._1)
      .map(v => readManifestFull(spark, dir, v).bls)
      .foldLeft(Map.empty[String, String])(_ ++ _)
      .map { case (f, body) =>
        f -> body.split('|').toSeq.filter(_.nonEmpty).flatMap { seg =>
          val parts = seg.split(":", 3)
          if (parts.length != 3) None
          else scala.util.Try {
            val m = parts(1).toLong
            val bytes = java.util.Base64.getDecoder.decode(parts(2))
            val bb = java.nio.ByteBuffer.wrap(bytes)
            val arr = new Array[Long](bytes.length / 8)
            (0 until arr.length).foreach(i => arr(i) = bb.getLong())
            parts(0) -> ((m, arr))
          }.toOption
        }.toMap
      }
    bloomCache.put(key, (listing, built))
    built
  }

  /** Parsed per-file column stats for the table at `dir`: entry
    * relpath -> column -> (min, max) of its non-null values (None/None
    * = the file stores only nulls for it), unioned over every retained
    * manifest — sound because a data file and its stats are immutable
    * together; whichever snapshot a scan reads, its files' stats are
    * the same rows. This is the relation
    * [[graft.plans.StatsFilePruning]] consults at PLAN time to drop
    * files a pushed-down value predicate can never match. Cached per
    * dir against the manifest listing (stats reads are manifest-sized;
    * planning must not re-read them per query). */
  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(Long, Long)],
      Map[String, Map[String, (Option[StatBound], Option[StatBound])]])]()

  /** Parse one `#st=` body ("col:mn:mx|...") into typed bounds. */
  private def parseStatsBody(body: String)
      : Map[String, (Option[StatBound], Option[StatBound])] =
    body.split('|').toSeq.filter(_.nonEmpty).flatMap { seg =>
      seg.split(":", -1) match {
        case Array(c, "", "") =>
          // the file stores only nulls for the column: an empty
          // range a null-rejecting predicate may prune
          Some(c -> (Option.empty[StatBound], Option.empty[StatBound]))
        case Array(c, mn, mx) =>
          // both bounds must decode to the SAME kind or the
          // column reads as unattested (keep the file) — a
          // malformed or future-format token must never prune
          (StatBound.decode(mn), StatBound.decode(mx)) match {
            case (a @ Some(x), b @ Some(y))
                if StatBound.cmp(x, y).isDefined =>
              Some(c -> (a, b))
            case _ => None
          }
        case _ => None
      }
    }.toMap

  // ── Stats checkpoints: O(1 + tail) metadata reads ─────────────────
  // A long-lived table retains many manifests, and the stats index
  // must union `#st=` lines across ALL of them (a scan may time-travel
  // to any version; a file's stats are immutable with it, so the union
  // is a set of facts). To keep that read O(1 checkpoint + tail)
  // instead of O(versions) — the Delta checkpoint model applied to the
  // one piece of state here that actually AGGREGATES across versions
  // (entries/fps/tokens/cols are per-version self-contained: the head
  // manifest alone answers them) — the index persists its own union as
  // `_manifests/_stats.v<N>.ckpt` once the un-checkpointed tail
  // exceeds [[StatsCkptTail]] versions. The checkpoint is a pure
  // CACHE: losing it (or racing over it — create-no-overwrite, losers
  // walk away) costs a rebuild, never correctness; stats for vacuumed
  // files linger harmlessly (they can never match a live scan's file
  // list) until [[vacuum]] drops every checkpoint, after which the
  // next read rebuilds from the retained manifests only.
  private val StatsCkptTail = 8

  private val StatsCkptName = "_stats\\.v([0-9]{9})\\.ckpt".r

  /** Integrity header of a stats checkpoint: magic + format version +
    * CRC32 of the payload lines. A header that is missing or whose
    * CRC disagrees makes the checkpoint read as ABSENT (full rebuild),
    * so content corruption degrades the same way an IO error does. */
  private val StatsCkptMagic = "#graft-stats-ckpt:2:"

  private def statsCkpts(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[(Long, Path)] = {
    val md = manifestDir(dir)
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).toSeq.flatMap { st =>
      st.getPath.getName match {
        case StatsCkptName(v) => Some(v.toLong -> st.getPath)
        case _ => None
      }
    }.sortBy(_._1)
  }

  private[graft] def dropStatsCkpts(spark: SparkSession,
      dir: String): Unit = {
    val fs = hadoopFs(spark, dir)
    statsCkpts(fs, dir).foreach { case (_, p) => fs.delete(p, false) }
  }

  private[graft] def fileStatsIndex(spark: SparkSession, dir: String)
      : Map[String, Map[String, (Option[StatBound], Option[StatBound])]] = {
    val sig = manifestLens(spark, dir)
    val cached = statsCache.get(dir)
    if (cached != null && cached._1 == sig) return cached._2
    val fs = hadoopFs(spark, dir)
    val vs = versions(spark, dir)
    // newest checkpoint (if any) covers every version ≤ its N; an
    // UNREADABLE checkpoint — IO failure, missing/mismatched magic
    // header, or a payload whose CRC disagrees with the header — is
    // treated as absent (full rebuild from manifests). The integrity
    // line makes the documented "corrupt checkpoint = rebuild"
    // contract hold for CONTENT corruption too, not just IO errors:
    // parseable garbage must not be accepted as the base and silently
    // mask stats for versions ≤ N.
    val ckpt = statsCkpts(fs, dir).lastOption.flatMap { case (n, p) =>
      try {
        val in = fs.open(p)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().toList
          finally in.close()
        lines match {
          case header :: rest if header.startsWith(StatsCkptMagic) =>
            val crc = new java.util.zip.CRC32
            crc.update(rest.mkString("\n").getBytes("UTF-8"))
            if (header == s"$StatsCkptMagic${crc.getValue}")
              Some((n, rest.flatMap { l =>
                val cut = l.indexOf('|')
                if (cut <= 0) None
                else Some(l.take(cut) -> l.drop(cut + 1))
              }.toMap))
            else None
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    val base: Map[String, String] =
      ckpt.fold(Map.empty[String, String])(_._2)
    val tail = ckpt.fold(vs) { case (n, _) => vs.filter(_ > n) }
    val raw = base ++ tail
      .flatMap(v => readManifestFull(spark, dir, v).sts.toSeq)
    val parsed = raw.map { case (f, body) => f -> parseStatsBody(body) }
    // persist the union once the tail outgrows the budget, so the next
    // session's first read is O(ckpt + small tail); atomic tmp+promote
    // (the manifest commit protocol), losers ignore the race
    if (tail.size > StatsCkptTail && vs.nonEmpty) {
      val target = new Path(manifestDir(dir), f"_stats.v${vs.last}%09d.ckpt")
      val tmp = new Path(manifestDir(dir),
        f"._stats.v${vs.last}%09d.${attemptTag()}.tmp")
      try {
        val out = fs.create(tmp, false)
        try {
          val payload = raw.toSeq.sortBy(_._1)
            .map { case (f, b) => s"$f|$b" }.mkString("\n")
          val crc = new java.util.zip.CRC32
          crc.update(payload.getBytes("UTF-8"))
          out.write(s"$StatsCkptMagic${crc.getValue}\n".getBytes("UTF-8"))
          out.write(payload.getBytes("UTF-8"))
        }
        finally out.close()
        if (!fs.rename(tmp, target)) fs.delete(tmp, false): Unit
        // older checkpoints are superseded — sweep them eagerly
        statsCkpts(fs, dir).filter(_._1 < vs.last)
          .foreach { case (_, p) => fs.delete(p, false) }
      } catch { case scala.util.control.NonFatal(_) =>
        scala.util.Try(fs.delete(tmp, false)): Unit }
    }
    statsCache.put(dir, (sig, parsed))
    parsed
  }

  /** Run `f` over `items` on a bounded driver-side pool — the
    * metadata-sweep parallelism [[vacuum]] and [[fsck]] use: each
    * list/delete is an independent filesystem RPC (Hadoop FileSystem
    * clients are thread-safe), so the wall time of an O(files)
    * metadata walk drops by the pool width. On an object store this
    * is the difference between the classic hours-long serial VACUUM
    * and a bounded sweep; the set algebra stays driver-side at
    * manifest scale. Failures propagate with their original cause. */
  private def parMeta[A, B](items: Seq[A], par: Int = 16)(
      f: A => B): Seq[B] = {
    val n = math.min(par, items.size)
    if (n <= 1) items.map(f)
    else {
      // one task per SLICE, not per item: the sweep's unit work can
      // be microseconds (a local delete, a cached listStatus), and
      // per-item future handoff is a fixed cost that dominates at
      // sandbox file counts (q143's r16 +21% watch item) while
      // buying nothing — a slice per pool thread keeps the same
      // independent-RPC-chain parallelism on object stores with
      // O(par) handoffs however long the item list grows. Slice
      // order concatenates back to item order, so callers keep the
      // input ordering exactly as before.
      val sz = math.max(1, items.size / n)
      val chunks = items.grouped(sz).toSeq
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      try chunks.map { chunk =>
        pool.submit(new java.util.concurrent.Callable[Seq[B]] {
          def call(): Seq[B] = chunk.map(f)
        })
      }.flatMap { fut =>
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
      finally pool.shutdown()
    }
  }

  /** The data-root name walk shared by [[vacuum]] and [[fsck]]:
    * (entry relpath, mtime) for every data file on disk, epoch
    * directories listed IN PARALLEL (each epoch's bucket walk is an
    * independent RPC chain). Underscore-prefixed names are never data
    * files and are excluded here once. */
  private def walkDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[(String, Long)] = {
    val dataRoot = new Path(s"$dir/data")
    if (!fs.exists(dataRoot)) return Nil
    val epochs = fs.listStatus(dataRoot).filter(_.isDirectory).toSeq
    parMeta(epochs) { epoch =>
      fs.listStatus(epoch.getPath).filter(_.isDirectory).toSeq
        .flatMap { bd =>
          fs.listStatus(bd.getPath).filter(_.isFile).toSeq
            .filterNot(_.getPath.getName.startsWith("_"))
            .map { f =>
              (s"${epoch.getPath.getName}/${bd.getPath.getName}/" +
                f.getPath.getName, f.getModificationTime)
            }
        }
    }.flatten
  }

  /** Deletion-vector files on disk: `_dvs/<attempt>/part-*.parquet`,
    * returned as (relpath-to-dir, mtime) — the DV twin of
    * [[walkDataFiles]], same bounded-pool listing. */
  private def walkDvFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[(String, Long)] = {
    val dvRoot = new Path(s"$dir/_dvs")
    if (!fs.exists(dvRoot)) return Nil
    val attempts = fs.listStatus(dvRoot).filter(_.isDirectory).toSeq
    parMeta(attempts) { att =>
      fs.listStatus(att.getPath).filter(_.isFile).toSeq
        .filterNot(_.getPath.getName.startsWith("_"))
        .map(f => (s"_dvs/${att.getPath.getName}/${f.getPath.getName}",
          f.getModificationTime))
    }.flatten
  }

  final case class FsckReport(referenced: Long, orphans: Long,
    missing: Long, danglingTags: Seq[String] = Nil)

  /** FSCK — audit the data directory against the retained manifests:
    * `referenced` = live manifest entries, `orphans` = files on disk no
    * retained manifest references (crashed epoch attempts — the
    * "invisible garbage" the commit model promises readers never see;
    * this makes the promise measurable), `missing` = manifest entries
    * with no file on disk (real corruption: a snapshot that can no
    * longer be read — the caller should alarm, not vacuum). Pure
    * metadata: manifest reads + the O(files) name-walk, no data pages.
    * [[vacuum]] deletes orphans along with expired versions, so
    * fsck-after-vacuum reporting zero orphans is the sweep's proof
    * (q148 prices the whole story). */
  def fsck(spark: SparkSession, dir: String): FsckReport = {
    val fs = hadoopFs(spark, dir)
    // data entries and deletion-vector files audit together (the
    // namespaces are disjoint by prefix): a referenced DV file gone
    // missing is as much a broken snapshot as a lost data file — an
    // unmaskable read would RESURRECT deleted rows
    val referenced = versions(spark, dir).flatMap { v =>
      val m = readManifestFull(spark, dir, v)
      m.entries.map("data/" + _) ++ m.dvs
    }.toSet
    val onDisk = (walkDataFiles(fs, dir).map("data/" + _._1) ++
      walkDvFiles(fs, dir).map(_._1)).toSet
    // a DANGLING tag names a version no retained manifest backs —
    // impossible through this API (vacuum retains pinned versions;
    // tag() validates its target), so any hit is external damage the
    // audit must surface: the pin's reproducibility promise is broken
    val vs = versions(spark, dir).toSet
    val dangling = tags(spark, dir).collect {
      case (n, v) if !vs.contains(v) => s"$n->v$v"
    }.toSeq.sorted
    FsckReport(referenced.size.toLong,
      (onDisk.toSet -- referenced).size.toLong,
      (referenced -- onDisk).size.toLong, dangling)
  }

  final case class FsckDeepReport(bucketsChecked: Long,
    mismatched: Seq[String], unattested: Seq[String])

  /** DEEP FSCK — re-verify a snapshot's at-rest CONTENT against the
    * manifest's per-bucket fingerprints: recompute (row count,
    * order-independent payload hash sum) from the live data files and
    * compare to the `#fp=` lines the writing commits attested. The
    * fingerprints exist for changefeed pruning, but they are equally
    * an integrity contract — a flipped bit, a truncated file, a
    * lost-update overwrite, or a fingerprint-inheritance bug all land
    * a bucket in `mismatched`; a bucket whose manifest carries no
    * fingerprint (legacy writer) lands in `unattested`, checked for
    * existence by the metadata [[fsck]] but content-unverifiable.
    *
    * Cost is EXPLICITLY O(snapshot data): one pruned columnar scan of
    * every live file — the opt-in deep audit, not the metadata walk
    * [[fsck]] stays. Verifying an old version re-attests history: the
    * recompute crosses every epoch the snapshot references, so a
    * clean report also proves fingerprint INHERITANCE was honest
    * across upserts, optimize, and rebucket (q156 gates exactly
    * that on the full lifecycle + migration). xxhash64 skips null
    * inputs and the recompute sorts the merged schema's columns by
    * name, so extend-only schema evolution verifies clean across the
    * boundary (same discipline as the write-side fingerprint). */
  def fsckDeep(spark: SparkSession, dir: String,
      version: Option[Long] = None): FsckDeepReport = {
    val (v, man) = snapshot(spark, dir, version)
    if (man.entries.isEmpty)
      return FsckDeepReport(0L, Seq.empty, Seq.empty)
    val df = readEntries(spark, dir, man, man.entries)
    val payload = df.columns.filter(_ != "bucket").sorted
    val actual = df.select(col("bucket") +: fpHashCols(payload): _*)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("fp_h").as("h"),
        sum("fp_h2").as("h2"))
      .collect()
      .map(r => r.getString(0) ->
        s"${r.getLong(1)}:${r.getDecimal(2).toBigInteger}:${
          r.getDecimal(3).toBigInteger}")
      .toMap
    val buckets = man.entries.map(bucketOfEntry).distinct
    val (attested, unattested) = buckets.partition(man.fps.contains)
    // prefix comparison: a legacy two-component attestation verifies
    // its two components; a current one all three. A bucket whose
    // every row is TOMBSTONED (merge-on-read) lists files but scans
    // to zero rows — its recompute is the implicit all-zero
    // fingerprint, exactly what the exact decrement left attested.
    val mismatched = attested.filter { b =>
      val zero = man.fps(b).split(":").map(_ => "0").mkString(":")
      !fpAgrees(man.fps(b), actual.getOrElse(b, zero))
    }
    FsckDeepReport(attested.size.toLong, mismatched.sorted,
      unattested.sorted)
  }

  private def writeEpoch(df: DataFrame, dir: String, epochName: String,
      hexDigits: Int, blockBytes: Option[Long] = None,
      sortCols: Seq[String] = Nil, dropAfterSort: Seq[String] = Nil,
      maxRecordsPerFile: Option[Long] = None)
      : Unit = {
    // stamp the key column's field metadata with the snapshot's bucket
    // width: the stamp rides the parquet footers into every scan's
    // output attributes, which is what lets KeyToBucketPruning turn a
    // `key = <lit>` filter into a `bucket IN (...)` partition filter —
    // and the only metadata placement that survives predicate pushdown
    // (a projection alias's metadata is erased when the filter is
    // pushed beneath it). All of one snapshot's files agree on the
    // width (rebucket rewrites every file), so a scan never mixes
    // stamps.
    val key = keyMeta(df.sparkSession, dir, None)
    val tagged =
      if (!df.columns.contains(key)) df
      else df.withColumn(key, col(key).as(key,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(graft.plans.KeyToBucketPruning.KeyHexMeta,
            hexDigits.toLong).build()))
    val tasks = math.min(1 << (4 * hexDigits),
      df.sparkSession.sparkContext.defaultParallelism)
    val shaped = tagged.repartition(tasks, col("bucket"))
    val sorted =
      if (sortCols.isEmpty) shaped
      else shaped.sortWithinPartitions(("bucket" +: sortCols).map(col): _*)
    // a projection after the sort preserves intra-partition order, so a
    // clustering key (zval) can drive the layout without being stored
    val w = dropAfterSort.foldLeft(sorted)(_ drop _)
      .write.mode("overwrite") // attempt dirs are unique;
      // a replayed attempt writes a NEW dir and the old one is an
      // orphan fsck classifies benign and vacuum sweeps
    blockBytes.foreach(b => w.option("parquet.block.size", b.toString))
    // file ROLLING inside a bucket: with a sorted write, capping the
    // records per file yields contiguous sort-key STRIPES, one file
    // each — the unit manifest-level min/max stats then prune (a
    // single file per bucket has near-global value ranges under hash
    // bucketing, so without stripes value predicates can never skip a
    // file). Deterministic: the writer rolls after exactly this many
    // rows of a total order.
    maxRecordsPerFile.foreach(n => w.option("maxRecordsPerFile", n.toString))
    w.partitionBy("bucket").parquet(s"$dir/data/$epochName")
  }

  /** What [[commitEpoch]] actually committed: the VERSION (the planned
    * one, or a later one when a lost race was recovered by the
    * conflict-scoped fast re-commit), the fresh entries under their
    * committed epoch name, and the fresh epoch's total ROW COUNT
    * (from the read-back fingerprints' row components — free at commit
    * time, and what lets [[upsert]]/[[deleteKeys]] derive rowsMatched
    * arithmetically instead of paying a dedicated semi-join count job
    * per verb; see OPTIMIZATION_r18.md). */
  private final case class EpochCommit(version: Long, fresh: Seq[String],
    freshRows: Long)

  /** Row count carried by a fingerprint map (the `rows` component of
    * each `rows:h1[:h2]` value). FORMAT-COUPLED to the fingerprint
    * writer ([[epochStats]] renders `n:h1:h2`, legacy manifests carry
    * `n:h1` or bare `n`) — FingerprintRowsSpec pins the coupling so a
    * future wire change fails a unit test before it mis-derives
    * CowStats.rowsMatched. ext-visible for that spec only. */
  private[ext] def fpRows(fps: Map[String, String]): Long =
    fps.valuesIterator.map(v => v.substring(0,
      v.indexOf(':') match { case -1 => v.length; case i => i }).toLong)
      .sum

  /** Spec instrumentation: epoch DATA writes vs conflict-scoped fast
    * re-commits — the two-writer spec asserts a disjoint-bucket race
    * loser re-commits WITHOUT a second data write, and the ScaleProbe
    * conflict leg prices the wasted bytes the fast path saves. */
  private[graft] val epochWrites =
    new java.util.concurrent.atomic.AtomicLong()
  private[graft] val fastRecommits =
    new java.util.concurrent.atomic.AtomicLong()

  /** An epoch's rows and the layout [[writeEpoch]] gives them. */
  private final case class EpochRows(df: DataFrame,
    sortCols: Seq[String] = Nil, dropAfterSort: Seq[String] = Nil,
    blockBytes: Option[Long] = None,
    maxRecordsPerFile: Option[Long] = None)

  /** A written epoch as a manifest sees it: its entries and their
    * read-back annotations, all keyed under the attempt dir `name`. */
  private final case class Fresh(name: String, entries: Seq[String],
      fps: Map[String, String], sts: Map[String, String],
      bls: Map[String, String], schema: String) {
    def buckets: Set[String] = entries.map(bucketOfEntry).toSet
    /** The same epoch after its attempt dir is renamed to `to`. */
    def renamed(to: String): Fresh = {
      def rekey[V](m: Map[String, V]) =
        m.map { case (e, x) => to + e.drop(e.indexOf('/')) -> x }
      Fresh(to, entries.map(e => to + e.drop(e.indexOf('/'))), fps,
        rekey(sts), rekey(bls), schema)
    }
  }

  /** `base` plus one epoch and one set of tombstones: entries of the
    * `replaces` buckets drop with their fingerprints (copy-on-write),
    * `mor`'s tombstones subtract their rows' fingerprint delta and join
    * the DV set (merge-on-read), and each fresh bucket's fingerprint
    * takes a dropped bucket's place or adds to a kept one (an append).
    * Every fingerprint term is a component sum, so the result is each
    * bucket's exact content fingerprint. Annotations carry whole:
    * [[commitManifest]] writes only those of listed files and epochs. */
  private def layered(base: ManifestData, fresh: Fresh,
      replaces: Set[String], mor: Option[MorPlan]): ManifestData = {
    val delta = mor.fold(Map.empty[String, String])(_.fpDelta)
    val kept = (base.fps -- replaces).map { case (b, fp) =>
      b -> delta.get(b).fold(fp)(fpCombine(fp, _, -1)) }
    base.copy(
      entries = base.entries.filterNot(e => replaces(bucketOfEntry(e))) ++
        fresh.entries,
      fps = kept ++ fresh.fps.map { case (b, f) =>
        b -> kept.get(b).fold(f)(fpCombine(_, f, 1)) },
      sts = base.sts ++ fresh.sts,
      bls = base.bls ++ fresh.bls,
      eschs = if (fresh.entries.isEmpty) base.eschs
        else base.eschs + (fresh.name -> fresh.schema),
      dvs = base.dvs ++ mor.fold(Seq.empty[String])(_.newDvs),
      dvf = base.dvf ++ mor.fold(Map.empty[String, Long])(_.perFile.map {
        case (f, n) => f -> (base.dvf.getOrElse(f, 0L) + n) }))
  }

  /** THE COMMIT of every data writer: the next manifest is the base
    * snapshot (version `cur`) plus one change, written, annotated and
    * promoted here and nowhere else.
    *
    *  - `rows`: the epoch to write, under a writer-unique attempt dir
    *    `v=<cur+1>-<tag>`, then read back once for its fingerprints,
    *    stats, blooms and schema line ([[epochAnnotations]]);
    *  - `replaces`: the buckets whose entries the epoch supersedes
    *    (copy-on-write; see [[layered]]);
    *  - `mor`: tombstones already written under `_dvs/` (merge-on-read);
    *  - `change`: what else the commit changes — tokens, properties,
    *    width, the DV set. It must be pure: it is applied to the base
    *    (for the epoch's width and properties), to the committed
    *    manifest, and on a lost race to the winner's head;
    *  - `gate`: a check of the fresh fingerprints before the commit
    *    ([[compactDvs]]' attestation); on failure the epoch is deleted
    *    and nothing commits.
    *
    * On a lost race a copy-on-write epoch with no gate whose change
    * leaves width, mapping, properties and tombstones alone may be
    * re-committed onto the winner's head ([[fastRecommit]]). Otherwise
    * the attempt's `data/v=…` and `_dvs/dv=…` dirs are deleted (a crash
    * instead leaves orphans for [[vacuum]]) and the conflict propagates
    * to the caller's [[retryOnConflict]] loop. */
  private def commitEpoch(spark: SparkSession, dir: String, cur: Long,
      base: ManifestData, rows: Option[EpochRows] = None,
      replaces: Set[String] = Set.empty, mor: Option[MorPlan] = None,
      change: ManifestData => ManifestData = identity,
      gate: Option[Map[String, String] => Unit] = None,
      beforeCommit: () => Unit = () => ()): EpochCommit = {
    val next = cur + 1
    val target = change(base)
    val relinkable = cur >= 1 && mor.isEmpty && gate.isEmpty &&
      neutral(change, base)
    // the CONSTRAINT SET the verb body enforced against: the fast
    // re-commit must not widen the enforce→commit window past a
    // concurrent addConstraint, so it bails when the set changed
    val consAtWrite =
      if (relinkable) constraints(spark, dir) else Map.empty[String, String]
    val epochName = s"v=$next-${attemptTag()}"
    val fs = hadoopFs(spark, dir)
    def cleanUp(): Unit = {
      fs.delete(new Path(s"$dir/data/$epochName"), true)
      mor.filter(_.newDvs.nonEmpty).foreach(p =>
        fs.delete(new Path(s"$dir/_dvs/${p.dvName}"), true))
    }
    val none = Fresh(epochName, Nil, Map.empty, Map.empty, Map.empty, "")
    val fresh = rows.fold(none) { r =>
      epochWrites.incrementAndGet(): Unit
      writeEpoch(r.df, dir, epochName, target.hexDigits, r.blockBytes,
        r.sortCols, r.dropAfterSort, r.maxRecordsPerFile)
      val entries = epochEntries(spark, dir, epochName)
      // stats and blooms share one relation and run concurrently; the
      // bloom build rides the table property (files written before it
      // was set stay unattested — sound)
      if (entries.isEmpty) none
      else {
        val (fps, sts, schema, bls) = epochAnnotations(spark, dir,
          epochName, widesOf(target.props), target.props)
        Fresh(epochName, entries, fps, sts, bls, schema)
      }
    }
    gate.foreach(g =>
      try g(fresh.fps) catch { case e: Exception => cleanUp(); throw e })
    beforeCommit()
    try {
      commitManifest(spark, dir, next,
        change(layered(base, fresh, replaces, mor)))
      EpochCommit(next, fresh.entries, fpRows(fresh.fps))
    } catch { case e: CommitConflictException =>
      (if (relinkable)
         fastRecommit(spark, dir, cur, base, fresh, replaces, change,
           consAtWrite)
       else None).getOrElse { cleanUp(); throw e }
    }
  }

  /** Whether `change` leaves `m`'s width, column mapping, properties
    * and tombstones as they were. */
  private def neutral(change: ManifestData => ManifestData,
      m: ManifestData): Boolean = {
    val t = change(m)
    t.hexDigits == m.hexDigits && t.cols == m.cols && t.props == m.props &&
      t.dvs == m.dvs && t.dvf == m.dvf
  }

  /** CONFLICT-SCOPED COMMIT RECOVERY (the Iceberg revalidate-and-
    * relink discipline): [[commitEpoch]]'s change applied to the
    * winner's head instead of to the base. A lost race whose winner
    * touched only DISJOINT buckets invalidates nothing this attempt
    * computed — the epoch files on disk are still exactly the rows the
    * verb meant to write — so instead of deleting them and re-running
    * the verb body (data reads, joins and all) in [[retryOnConflict]],
    * the already-written epoch is re-committed as the head's successor.
    * Eligibility is strict; any doubt falls back to the full retry
    * (returns None):
    *
    *  - the verb is copy-on-write with no gate, and its change is
    *    [[neutral]] on the base and on the head — a full-table
    *    OPTIMIZE declaring a new layout, a REBUCKET to a new width or
    *    of a tombstoned table, a MOR writer or [[compactDvs]] re-plans
    *    instead;
    *  - every bucket this attempt touched (fresh files' buckets plus
    *    buckets it dropped entries from) is BYTE-IDENTICAL between the
    *    base snapshot and the head: same entry list, same content
    *    fingerprint, same tombstone annotations — the winner's writes
    *    were scoped elsewhere;
    *  - the head has the base's width, mapping and properties, carries
    *    none of the tokens this change adds, and the CHECK constraint
    *    set is still the one the verb enforced against.
    *
    * The attempt dir is RENAMED to the committed version's epoch name
    * (`v=<new>-<tag>`) so the epoch-name/version invariant every
    * consumer relies on (schema-union order, vacuum's orphan
    * classification) survives. Loops on further races (each
    * re-validated against the then-head), bounded like
    * [[retryOnConflict]].
    *
    * At 100 TB concurrency this is the write-throughput ceiling: a
    * fleet of bucket-disjoint writers (the common case under hash
    * bucketing) serializes only on the O(manifest) re-list instead of
    * each redoing its O(bucket-data) read-merge-write per lost race —
    * the ScaleProbe conflict leg prices the wasted bytes saved. */
  private def fastRecommit(spark: SparkSession, dir: String, cur: Long,
      base: ManifestData, fresh: Fresh, replaces: Set[String],
      change: ManifestData => ManifestData,
      consAtWrite: Map[String, String],
      maxAttempts: Int = 5): Option[EpochCommit] = {
    // tokens the change adds or advances beyond its base snapshot
    val tokenDelta = change(base).tokens.filter { case (sid, id) =>
      !base.tokens.get(sid).contains(id) }
    val impacted = fresh.buckets ++
      base.entries.map(bucketOfEntry).filter(replaces)
    val baseBy = base.entries.groupBy(bucketOfEntry)
    def dvfOf(m: ManifestData, b: String): Map[String, Long] =
      m.dvf.filter(e => bucketOfEntry(e._1) == b)
    val fs = hadoopFs(spark, dir)
    var relinked = fresh
    // after the first rename the attempt dir no longer answers to the
    // name the caller's cleanup deletes — every later bail-out must
    // sweep the renamed dir itself
    def bail(): Option[EpochCommit] = {
      if (relinked.name != fresh.name)
        fs.delete(new Path(s"$dir/data/${relinked.name}"), true): Unit
      None
    }
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      val curV = versions(spark, dir).lastOption
        .getOrElse(return bail())
      if (curV <= cur) return bail() // torn head state — full retry
      val head =
        try readManifestFull(spark, dir, curV)
        catch { case scala.util.control.NonFatal(_) => return bail() }
      if (head.hexDigits != base.hexDigits || head.cols != base.cols ||
          head.props != base.props || !neutral(change, head))
        return bail()
      if (tokenDelta.keys.exists(head.tokens.contains)) return bail()
      if (constraints(spark, dir) != consAtWrite) return bail()
      val headBy = head.entries.groupBy(bucketOfEntry)
      val scopedClean = impacted.forall { b =>
        baseBy.getOrElse(b, Nil).sorted ==
          headBy.getOrElse(b, Nil).sorted &&
        base.fps.get(b) == head.fps.get(b) &&
        dvfOf(base, b) == dvfOf(head, b)
      }
      if (!scopedClean) return bail()
      // RELINK: rename the attempt epoch to the new version's name; its
      // annotations are restated under it by Fresh.renamed
      val newV = curV + 1
      val newName = s"v=$newV-" +
        relinked.name.drop(relinked.name.indexOf('-') + 1)
      if (!fs.rename(new Path(s"$dir/data/${relinked.name}"),
          new Path(s"$dir/data/$newName"))) return bail()
      relinked = relinked.renamed(newName)
      // untouched buckets keep the head's entries and annotations (the
      // winner's state), touched buckets take this attempt's
      val onHead = head.copy(sts = base.sts ++ head.sts,
        bls = base.bls ++ head.bls, eschs = base.eschs ++ head.eschs)
      try {
        commitManifest(spark, dir, newV,
          change(layered(onHead, relinked, impacted, None)))
        fastRecommits.incrementAndGet(): Unit
        return Some(EpochCommit(newV, relinked.entries,
          fpRows(relinked.fps)))
      }
      catch { case _: CommitConflictException => () } // re-validate
    }
    bail()
  }

  /** Writer retry loop: `body` recomputes against the LATEST snapshot
    * each attempt (the winner may have rewritten overlapping buckets or
    * even changed the bucket width, so nothing computed against the
    * stale snapshot survives a conflict), bounded so a livelocked
    * deployment fails loudly instead of spinning. */
  private def retryOnConflict[T](op: String, dir: String,
      maxAttempts: Int = 5)(body: => T): T = {
    var n = 0
    while (true) {
      try return body
      catch { case e: CommitConflictException =>
        n += 1
        if (n >= maxAttempts)
          throw new java.io.IOException(
            s"$op lost the commit race $maxAttempts times at $dir", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Extend-only schema union of two epoch schemas: `a`'s fields in
    * order, `b`'s new fields appended; a shared field keeps `a`'s
    * slot (metadata included — every epoch stamps the key, so the
    * KeyHexMeta survives whichever side seeds) with nullability
    * widened. None on a dataType conflict — the caller falls back to
    * the footer-merge probe, whose numeric-widening reconciliation is
    * the authority for schemas this engine's extend-only writers
    * never produce. */
  private def mergeEpochSchemas(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.StructType] = {
    val an = a.fieldNames.toSet
    if (b.fields.exists(f =>
        an.contains(f.name) && a(f.name).dataType != f.dataType)) None
    else Some(org.apache.spark.sql.types.StructType(
      a.fields.map { f =>
        if (b.fieldNames.contains(f.name))
          f.copy(nullable = f.nullable || b(f.name).nullable)
        else f
      } ++ b.fields.filterNot(f => an.contains(f.name))))
  }

  /** The union DATA schema of `entries` resolved from persisted
    * `#esch=` lines alone — Some only when EVERY epoch in the subset
    * carries one and the union is conflict-free; epochs merge in
    * version order (deterministic however the entry list is
    * ordered). */
  private def persistedSchema(entries: Seq[String],
      eschs: Map[String, String])
      : Option[org.apache.spark.sql.types.StructType] = {
    val epochs = entries.map(e => e.take(e.indexOf('/'))).distinct
    if (!epochs.forall(eschs.contains)) None
    else scala.util.Try {
      def vOf(ep: String): Long =
        ep.drop(2).takeWhile(_.isDigit).toLong
      epochs.sortBy(ep => (vOf(ep), ep))
        .map(ep => org.apache.spark.sql.types.DataType
          .fromJson(eschs(ep))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .foldLeft(Option(org.apache.spark.sql.types.StructType(Nil))) {
          case (Some(acc), s) =>
            if (acc.isEmpty) Some(s) else mergeEpochSchemas(acc, s)
          case (None, _) => None
        }
    }.toOption.flatten.filter(_.nonEmpty)
  }

  /** Footer-probed DATA schema (as JSON, the `#esch=` wire form) per
    * (dir, epoch): a legacy epoch with no persisted schema line is
    * just as immutable as an annotated one, so the probe is paid once
    * per JVM instead of once per scan. */
  private val epochProbeCache =
    new BoundedCache[(String, String), String](1 << 13)

  /** Resolved snapshot-scan relation cache, per SparkSession (weak —
    * a stopped session's plans must not outlive it): constructing the
    * scan DataFrame resolves an InMemoryFileIndex over the explicit
    * manifest file list (hundreds of driver getFileStatus calls) and
    * re-derives the scan schema; all of that is a pure function of
    * (dir, file set, epoch schemas, declared widenings) because
    * manifest entries name IMMUTABLE write-once files. Caching the
    * resolved DataFrame lets a verb's many actions over one snapshot
    * re-analyze a resolved leaf instead of re-listing and re-resolving
    * the relation per action — the round-19 driver-floor fix. The PLAN
    * object is cached, never data: every action still executes from
    * the parquet files. [[vacuum]] (the only path that deletes data
    * files) sweeps the table's entries.
    *
    * Beside it, under the same bound and the same sweep, sit the
    * driver point-lookup READERS ([[lookupReader]]). */
  private final class SessionCaches {
    val relations =
      new BoundedCache[(String, Seq[String], String), DataFrame](64)
    val readers = new BoundedCache[(String, AnyRef), LookupReader](64)
  }

  /** A parquet reader function as Spark's file scan builds it. */
  private[graft] type LookupReader = org.apache.spark.sql.execution
    .datasources.PartitionedFile =>
      Iterator[org.apache.spark.sql.catalyst.InternalRow]

  private val sessionCaches = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SessionCaches]())

  private def cachesFor(spark: SparkSession): SessionCaches =
    sessionCaches.synchronized {
      var c = sessionCaches.get(spark)
      if (c == null) {
        c = new SessionCaches
        sessionCaches.put(spark, c)
      }
      c
    }

  private def invalidateTableCaches(dir: String): Unit =
    sessionCaches.synchronized {
      val it = sessionCaches.values().iterator()
      while (it.hasNext) {
        val c = it.next()
        c.relations.removeIf(_._1 == dir)
        c.readers.removeIf(_._1 == dir)
      }
    }

  /** The reader function of [[graft.plans.DriverLookupExec]] for one
    * snapshot relation and required schema, built on the first lookup
    * and reused after. Building it broadcasts the scan's Hadoop
    * configuration — the per-scan fixed cost a lookup must not pay
    * again — and the function depends only on the relation's schemas,
    * its options and the session's SQL conf, never on its file list
    * (bucket, stats and bloom pruning change the files, not the
    * reader) nor on a query literal (the lookup filters row by row).
    * Keyed by the table dir, taken from the scan's `basePath`, so
    * [[vacuum]] sweeps it with the relations; a relation without one
    * gets a fresh, uncached reader. */
  private[graft] def lookupReader(
      relation: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
      requiredSchema: org.apache.spark.sql.types.StructType,
      build: () => LookupReader): LookupReader =
    relation.options.get("basePath") match {
      case Some(base) if base.endsWith("/data") =>
        val spark = relation.sparkSession
        val key: AnyRef = (relation.dataSchema, relation.partitionSchema,
          requiredSchema, relation.options.filter { case (k, _) =>
            !k.equalsIgnoreCase("path") && !k.equalsIgnoreCase("paths") },
          spark.sessionState.conf.getAllConfs)
        cachesFor(spark).readers.computeIfAbsent(
          (base.stripSuffix("/data"), key), _ => build())
      case _ => build()
    }

  /** The scan of exactly `entries` — the one relation every read
    * builds: [[readEntries]] (clean files, and through
    * [[liveWithIdentity]] the dirty ones), the MOR writers and the
    * lookup leaf. Callers pass an already-pruned entry list (a whole
    * snapshot, or the impacted buckets of a write): listing only those
    * files keeps the schema resolution AND the scan O(listed files);
    * building the full-table relation and filtering it would pay an
    * O(table-files) footer merge per write just to plan a 40-file read
    * (measured by the ScaleProbe manifest leg: 7.6 s/upsert at 4096
    * buckets before, flat after). Cached per session (see
    * [[SessionCaches]]). */
  private def scanEntriesRaw(spark: SparkSession, dir: String,
      entries: Seq[String],
      eschs: Map[String, String] = Map.empty,
      wides: Map[String, org.apache.spark.sql.types.DataType] =
        Map.empty): DataFrame = {
    // cache key: the file SET plus everything else the scan schema
    // derives from — the widenings (they change the read schema of the
    // SAME files) and the per-epoch schema lines the caller passes (an
    // empty map routes legacy epochs through the footer probe, whose
    // column ORDER can differ from the persisted-schema path). The
    // schema lines are folded through md5 (collision-free in practice,
    // unlike 32-bit hashCode) so the key stays small however long the
    // schema JSON grows.
    val epochs = entries.map(e => e.take(e.indexOf('/'))).distinct
    val schemaDigest = {
      val h = java.security.MessageDigest.getInstance("MD5")
      epochs.foreach { ep =>
        h.update(eschs.getOrElse(ep, "").getBytes("UTF-8"))
        h.update(0.toByte)
      }
      h.digest().map("%02x".format(_)).mkString
    }
    val schemaKey = wides.toSeq.sortBy(_._1)
      .map { case (c, t) => s"$c:${t.json}" }.mkString(",") + "#" +
      schemaDigest
    cachesFor(spark).relations.computeIfAbsent((dir, entries, schemaKey),
      _ => scanEntriesUncached(spark, dir, entries, eschs, wides))
  }

  private def scanEntriesUncached(spark: SparkSession, dir: String,
      entries: Seq[String],
      eschs: Map[String, String],
      wides: Map[String, org.apache.spark.sql.types.DataType]): DataFrame = {
    // the scan takes an EXPLICIT schema with the layout partition
    // columns (`v`, `bucket`) FORCED to STRING. Forcing the type
    // kills partition-type inference — over a SPARSE file set the
    // inferred type is unsafe: a lone "bucket=8f" dir infers DOUBLE
    // 8.0 (Java's parseDouble accepts the f/d suffix), the round-12
    // epochFingerprints trap — while keeping `bucket` a genuine
    // PARTITION column of the scan. The string partition value IS
    // the directory text, byte-identical to the regexp this read
    // derived it with before round 17, but partition-backed:
    // [[graft.plans.KeyToBucketPruning]] can turn a `key = <lit>`
    // filter into a bucket partition filter on EVERY snapshot read —
    // including the DV-aware dirty-file scan, so a point lookup on a
    // tombstone-carrying table stays O(impacted buckets) between a
    // MOR write and the OPTIMIZE that purges it. It also pins
    // bucket's TYPE: DV-free and DV-bearing snapshots agree on
    // string forever.
    //
    // The DATA schema comes from the manifest's persisted `#esch=`
    // epoch schemas when the subset is fully covered — O(epochs)
    // driver work, NO footer job however many files the snapshot
    // lists (the Iceberg/Delta schema-in-metadata read path; field
    // metadata, incl. the KeyHexMeta pruning stamp, rides the JSON).
    // A legacy epoch without one falls back to the mergeSchema
    // PROBE — one footer pass, the price every read paid before
    // round 17.
    val paths = entries.map(e => s"$dir/data/$e")
    def footerProbe(ps: Seq[String]) =
      org.apache.spark.sql.types.StructType(
        spark.read.option("basePath", s"$dir/data")
          .option("mergeSchema", "true").parquet(ps: _*)
          .schema.filterNot(f => f.name == "bucket" || f.name == "v"))
    // declared TYPE WIDENINGS apply to each epoch schema BEFORE the
    // union: a pre-widen epoch (int) and a post-widen one (long) both
    // resolve to the declared type, so the extend-only union stays
    // conflict-free across the promotion and the scan schema below
    // drives Spark's native parquet upcast on the old files
    def widenJson(j: String): String =
      if (wides.isEmpty) j
      else applyWidesTo(org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType], wides).json
    val eschsW =
      if (wides.isEmpty) eschs
      else eschs.map { case (ep, j) => ep -> widenJson(j) }
    val data: org.apache.spark.sql.types.StructType =
      persistedSchema(entries, eschsW).getOrElse {
        // legacy epochs without `#esch=`: probe each ONCE per (dir,
        // epoch) per JVM — an epoch's files are written in one pass
        // and immutable, so the footer cost is paid once, not on
        // every scan (a readEntries DV split calls this up to three
        // times per read, and before this cache a single legacy
        // epoch put the WHOLE snapshot back on the per-scan probe)
        // the probe cache stores the epoch's RAW physical schema (a
        // per-(dir, epoch) immutable fact); widening — a per-VERSION
        // property — applies on use, so time travel to a pre-widen
        // snapshot reads its own regime through the same cache
        val filled = entries.groupBy(e => e.take(e.indexOf('/')))
          .map { case (ep, es) =>
            ep -> eschsW.getOrElse(ep,
              widenJson(epochProbeCache.computeIfAbsent((dir, ep), _ =>
                footerProbe(es.map(e => s"$dir/data/$e")).json)))
          }
        persistedSchema(entries, filled).getOrElse(
          // a conflicting union (legacy numeric widening) stays on
          // the global footer-merge probe — Spark's reconciliation
          // is the authority for schemas our writers never produce.
          // COLUMN-ORDER CONTRACT: this engine's writers are extend-
          // only, so the persisted/per-epoch paths above yield fields
          // in epoch-VERSION order (first epoch to store a column
          // owns its slot). A legacy table that lands here instead
          // gets Spark's footer-merge order (lexicographic file
          // paths — v=10 sorts before v=2), which can differ; that
          // order is deterministic but positional consumers
          // (INSERT ... SELECT *) over 10+-epoch legacy tables with
          // per-epoch schema growth should select by name
          applyWidesTo(footerProbe(paths), wides))
      }
    val str = org.apache.spark.sql.types.StringType
    val forced = org.apache.spark.sql.types.StructType(
      data.fields ++ Seq(
        org.apache.spark.sql.types.StructField("v", str),
        org.apache.spark.sql.types.StructField("bucket", str)))
    spark.read.option("basePath", s"$dir/data").schema(forced)
      .parquet(paths: _*)
      .select((data.fieldNames.toSeq :+ "bucket").map(col): _*)
  }

  /** Tombstone sets at or below this many rows broadcast to the
    * anti-join (a DV is small by design — a table whose tombstones
    * outgrow this should have been compacted; the join still runs,
    * as a shuffle). */
  private val DvBroadcastMaxRows = 4L << 20

  /** A snapshot's live tombstones restricted to `within` data files,
    * as (`file` = manifest entry relpath, `pos` = parquet row index)
    * rows — the anti-join side of every merge-on-read read. */
  private def dvTombstones(spark: SparkSession, dir: String,
      man: ManifestData, within: Seq[String]): DataFrame = {
    val all = spark.read.parquet(man.dvs.map(p => s"$dir/$p"): _*)
    // tombstones of files outside this read can never join; the
    // filter keeps the (possibly broadcast) side ∝ the files read —
    // at very large dirty lists the IN-literal would bloat the plan,
    // and the anti-join drops non-matches anyway, so skip it there
    if (within.size <= 1024) all.filter(col("file").isin(within: _*))
    else all
  }

  /** The live rows of `entries` with their parquet row identity
    * (`__dv_file` = manifest entry relpath from `_metadata.file_path`,
    * `__dv_pos` = `_metadata.row_index`): dirty files anti-join the
    * snapshot's tombstones — work ∝ dirty files + tombstone rows, the
    * merge-on-read contract. The tombstone side broadcasts when small
    * (the typical compliance-delete shape). */
  private def liveWithIdentity(spark: SparkSession, dir: String,
      man: ManifestData, entries: Seq[String]): DataFrame = {
    val scanned = scanEntriesRaw(spark, dir, entries, man.eschs,
        widesOf(man.props))
      .withColumn("__dv_file", regexp_extract(
        col("_metadata.file_path"),
        "([^/]+/bucket=[0-9a-f]+/[^/]+)$", 1))
      .withColumn("__dv_pos", col("_metadata.row_index"))
    val dirty = entries.filter(man.dvf.contains)
    if (dirty.isEmpty) scanned
    else {
      val tomb0 = dvTombstones(spark, dir, man, dirty)
      val tomb = if (dirty.map(man.dvf).sum <= DvBroadcastMaxRows)
        broadcast(tomb0) else tomb0
      scanned.join(tomb,
        scanned("__dv_file") === tomb("file") &&
          scanned("__dv_pos") === tomb("pos"), "left_anti")
    }
  }

  /** The one DV-aware read of a snapshot's files, in their PHYSICAL
    * column names (the mapping is the caller's: rewrites must keep
    * physical names, since fingerprints sort them). Clean files (no
    * tombstones) scan verbatim; dirty files are read through
    * [[liveWithIdentity]]. Both go through [[scanEntriesRaw]], so
    * `bucket` is a STRING partition column with or without tombstones
    * and [[graft.plans.KeyToBucketPruning]] prunes either scan. Older
    * files of a schema-evolved snapshot read null for newer columns. */
  private def readEntries(spark: SparkSession, dir: String,
      man: ManifestData, entries: Seq[String]): DataFrame = {
    val wides = widesOf(man.props)
    val (dirty, clean) = entries.partition(man.dvf.contains)
    if (dirty.isEmpty)
      scanEntriesRaw(spark, dir, entries, man.eschs, wides)
    else {
      val live = liveWithIdentity(spark, dir, man, dirty)
        .drop("__dv_file", "__dv_pos")
      if (clean.isEmpty) live
      else scanEntriesRaw(spark, dir, clean, man.eschs, wides)
        .unionByName(live, allowMissingColumns = true)
    }
  }

  /** A snapshot's whole file list — loud when it lists none: a
    * version whose every row died has no schema to read, so name the
    * state instead of surfacing Spark's opaque unable-to-infer error. */
  private def liveEntries(dir: String, v: Long,
      man: ManifestData): Seq[String] =
    if (man.entries.nonEmpty) man.entries
    else throw new IllegalStateException(
      s"version $v of the MergeTable at $dir is EMPTY (every row " +
        "deleted): an empty snapshot carries no schema; read an " +
        "earlier version or re-create the table")

  /** The COLUMN MAPPING at the read boundary: the logical name a
    * snapshot's `#col=` mapping gives the physical column `c` — its
    * new name, itself, or None when dropped. The layout columns
    * (`bucket`, `v`) are never mapped. */
  private def logicalName(cols: Map[String, String],
      c: String): Option[String] =
    if (c == "bucket" || c == "v") Some(c)
    else cols.get(c) match {
      case Some("") => None
      case Some(l) => Some(l)
      case None => Some(c)
    }

  /** The snapshot's LOGICAL view of a physically-named frame: one
    * projection renaming mapped physicals and excluding dropped ones
    * (a single select, so a rename landing on a still-occupied
    * physical name can never alias-collide mid-rewrite). */
  private def applyLogicalView(df: DataFrame,
      cols: Map[String, String]): DataFrame =
    if (cols.isEmpty) df
    else df.select(df.columns.toSeq.flatMap(c => logicalName(cols, c)
      .map(l => if (l == c) col(c) else col(c).as(l))): _*)

  /** TYPE-WIDENING declarations ride table properties
    * (`graft.widen.<physical> = <type DDL>`) — carried forward by
    * every commit, versioned, time-travel-consistent (a pre-widen
    * snapshot's props lack the line, so it reads its own narrower
    * regime), and visible to the conflict gates (a concurrent widen
    * disqualifies the fast re-commit via the props compare). The
    * files keep their physical type forever; every read SCANS under
    * the widened schema (Spark's parquet readers perform the
    * int→long / float→double / decimal-precision upcast natively),
    * so predicates push down and stats prune on the widened column
    * exactly as on a native one. */
  private[ext] val WidenPropPrefix = "graft.widen."

  private def widesOf(props: Map[String, String])
      : Map[String, org.apache.spark.sql.types.DataType] =
    props.collect { case (k, v) if k.startsWith(WidenPropPrefix) =>
      k.stripPrefix(WidenPropPrefix) ->
        org.apache.spark.sql.types.DataType.fromDDL(v) }

  /** The Iceberg type-promotion table: exactly the conversions every
    * parquet reader can perform losslessly on scan. */
  private def canWiden(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision > a.precision
      case _ => false
    }
  }

  private def applyWidesTo(
      st: org.apache.spark.sql.types.StructType,
      wides: Map[String, org.apache.spark.sql.types.DataType])
      : org.apache.spark.sql.types.StructType =
    if (wides.isEmpty) st
    else org.apache.spark.sql.types.StructType(st.fields.map(f =>
      wides.get(f.name).map(dt => f.copy(dataType = dt)).getOrElse(f)))

  /** Cast a batch's widened columns to their declared type so new
    * epochs physically converge on it (a narrower batch still reads
    * correctly either way — the scan upcasts — but converging keeps
    * epoch schemas from fanning out). */
  private def applyWidesCast(df: DataFrame,
      wides: Map[String, org.apache.spark.sql.types.DataType])
      : DataFrame =
    if (wides.isEmpty || !df.columns.exists(wides.contains)) df
    else df.select(df.columns.toSeq.map { c =>
      wides.get(c).map(dt => col(c).cast(dt).as(c)).getOrElse(col(c))
    }: _*)

  /** The inverse boundary: a LOGICALLY-named batch translated to the
    * table's physical column names before it meets the files. A batch
    * column that lands on a physical slot whose logical fate is
    * rename-away or drop is REJECTED loudly — writing it would
    * silently resurrect dead bytes under a stale name (re-adding a
    * dropped/renamed name needs an id-based format; this one forbids
    * it, explicitly). */
  private def toPhysical(df: DataFrame,
      cols: Map[String, String]): DataFrame =
    if (cols.isEmpty) df
    else {
      val occupied = df.columns.toSet.intersect(cols.keySet)
      require(occupied.isEmpty,
        s"column name(s) ${occupied.mkString(", ")} were renamed away " +
          "or dropped from this table — their physical slots are " +
          "occupied; pick a fresh name")
      val rev = cols.collect { case (p, l) if l.nonEmpty => l -> p }
      df.select(df.columns.toSeq.map { c =>
        rev.get(c).map(col(c).as(_)).getOrElse(col(c))
      }: _*)
    }

  /** The table at a version (default: latest) — resolves that
    * version's manifest, scans exactly its files, and applies the
    * version's own COLUMN MAPPING (renames/drops are metadata the
    * manifest carries, so time travel reads every snapshot under the
    * names it had); `basePath` keeps the `bucket` partition column
    * (the key a reader may prune on). */
  def readTable(spark: SparkSession, dir: String,
      version: Option[Long] = None): DataFrame = {
    val (v, man) = snapshot(spark, dir, version)
    applyLogicalView(readEntries(spark, dir, man, liveEntries(dir, v, man)),
      man.cols)
  }

  /** A SQL string argument, which must be a literal. */
  private def litString(fn: String,
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String): String = {
    require(e.foldable, s"$fn: $what must be a literal")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a string literal, got $other")
    }
  }

  /** The version a SQL version argument names: an integer literal is
    * a version number, a string literal a tag name — resolved through
    * the immutable pin, so `merge_table(dir, 'train-2026-08')` re-reads
    * the exact snapshot that run pinned. Shared by `merge_table`, both
    * `table_changes` endpoints and the prepared lookup. */
  private[graft] def versionArg(spark: SparkSession, dir: String,
      fn: String, what: String,
      e: org.apache.spark.sql.catalyst.expressions.Expression): Long = {
    require(e.foldable, s"$fn: $what must be a literal")
    e.eval() match {
      case i: java.lang.Integer => i.longValue
      case l: java.lang.Long => l.longValue
      case s: org.apache.spark.unsafe.types.UTF8String =>
        tagVersion(spark, dir, s.toString)
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer version or a string tag name, " +
          s"got $other")
    }
  }

  /** Builder for the `merge_table(dir[, version])` SQL table-valued
    * function: resolves the snapshot through [[readTable]] at analysis
    * time, so plain SQL reads the table — time travel via the second
    * argument, and `WHERE key = <lit>` point lookups prune through
    * [[graft.plans.KeyToBucketPruning]] exactly as the DataFrame path
    * does (the TVF splices the same scan plan, footer metadata and
    * all). Registered per-session by [[registerSql]] or for every
    * session by [[graft.GraftExtensions]]. Arguments must be literals
    * (a plan must resolve before any row exists to evaluate them). */
  private[graft] val tableFunctionBuilder
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    exprs =>
      require(exprs.nonEmpty && exprs.length <= 2,
        s"merge_table(dir[, version]) takes 1-2 arguments, got ${exprs.length}")
      val dir = litString("merge_table", exprs.head, "dir")
      val spark = org.apache.spark.sql.SparkSession.active
      val version = exprs.drop(1).headOption
        .map(versionArg(spark, dir, "merge_table", "version", _))
      readTable(spark, dir, version).queryExecution.logical
  }

  /** Builder for `merge_table_as_of(dir, ts)` — TIMESTAMP time
    * travel in SQL: `ts` is a timestamp literal (`TIMESTAMP '…'`) or
    * a string in ISO-instant or `yyyy-MM-dd HH:mm:ss[.SSS]` form
    * (zone-free strings read as UTC — the engine's session
    * discipline); resolution through [[versionAsOf]]'s strictly
    * monotone in-commit timestamps. */
  private[graft] val asOfFunctionBuilder
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    exprs =>
      require(exprs.length == 2,
        s"merge_table_as_of(dir, ts) takes 2 arguments, got ${exprs.length}")
      val dir = litString("merge_table_as_of", exprs.head, "dir")
      val spark = org.apache.spark.sql.SparkSession.active
      val e = exprs(1)
      require(e.foldable, "merge_table_as_of: ts must be a literal")
      val tsMillis = (e.dataType, e.eval()) match {
        case (org.apache.spark.sql.types.TimestampType,
            micros: java.lang.Long) => micros.longValue / 1000L
        case (_, s: org.apache.spark.unsafe.types.UTF8String) =>
          parseTsMillis(s.toString)
        case (_, other) => throw new IllegalArgumentException(
          "merge_table_as_of: ts must be a TIMESTAMP or a string " +
            s"timestamp, got $other")
      }
      readTable(spark, dir, Some(versionAsOf(spark, dir, tsMillis)))
        .queryExecution.logical
  }

  /** ISO instant ('2026-08-16T01:00:00Z') or 'yyyy-MM-dd HH:mm:ss
    * [.SSS]' (read as UTC) → epoch millis — shared by the SQL
    * timestamp-travel surfaces (`merge_table_as_of`, `RESTORE … TO
    * TIMESTAMP AS OF`). */
  private[graft] def parseTsMillis(s: String): Long =
    scala.util.Try(java.time.Instant.parse(s).toEpochMilli).getOrElse {
      val fmt = java.time.format.DateTimeFormatter.ofPattern(
        "yyyy-MM-dd HH:mm:ss[.SSS]")
      scala.util.Try(java.time.LocalDateTime.parse(s, fmt)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
        .getOrElse(throw new IllegalArgumentException(
          s"merge_table_as_of: cannot parse timestamp '$s' — use an " +
            "ISO instant ('2026-08-16T01:00:00Z') or " +
            "'yyyy-MM-dd HH:mm:ss[.SSS]' (UTC)"))
    }

  /** Builder for `table_changes(dir, fromV[, toV])`: the CDC batch
    * between two committed versions as plain SQL — [[changes]]'s plan
    * spliced at analysis, so the fingerprint short-circuit and the
    * changed-bucket file-list pruning ride along (a quiet window costs
    * two manifest reads in SQL exactly as it does in the API). `toV`
    * defaults to the newest committed version, the "changes since"
    * idiom a downstream SQL consumer wants. */
  private[graft] val changesFunctionBuilder
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    exprs =>
      require(exprs.length >= 2 && exprs.length <= 3,
        s"table_changes(dir, fromV[, toV]) takes 2-3 arguments, " +
          s"got ${exprs.length}")
      val dir = litString("table_changes", exprs.head, "dir")
      val spark = org.apache.spark.sql.SparkSession.active
      // endpoints are integer versions or string TAG names — so
      // `table_changes(dir, 'release-7', 'release-8')` is the diff
      // between two pinned snapshots, the release-note idiom
      val fromV = versionArg(spark, dir, "table_changes", "fromV", exprs(1))
      val toV = exprs.drop(2).headOption
        .map(versionArg(spark, dir, "table_changes", "toV", _))
        .getOrElse(versions(spark, dir).max)
      changes(spark, dir, fromV, toV).queryExecution.logical
  }

  /** Builder for `merge_table_history(dir)`: one row per retained
    * version — (v, files, buckets, rows) — from the manifests alone
    * (the fingerprint ledger every commit attests), so auditing a
    * 100 TB table's history is O(versions × manifest), zero data
    * reads. `rows` is the fingerprint total, null for a legacy
    * version any of whose buckets lacks one (unattestable, reported
    * as such rather than guessed). */
  private[graft] val historyFunctionBuilder
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    exprs =>
      require(exprs.length == 1,
        s"merge_table_history(dir) takes 1 argument, got ${exprs.length}")
      val dir = litString("merge_table_history", exprs.head, "dir")
      val spark = org.apache.spark.sql.SparkSession.active
      history(spark, dir).queryExecution.logical
  }

  /** Effective COMMIT TIMESTAMPS (epoch millis) per retained version,
    * STRICTLY increasing: each version's raw clock is the manifest's
    * own `#ts=` line (in-commit — directory copies cannot shift it;
    * legacy manifests fall back to file mtime), monotonized as
    * eff(v) = max(raw(v), eff(prev) + 1) so clock skew between
    * concurrent writers can never make AS OF resolution ambiguous —
    * the Delta in-commit-timestamp discipline. The current writer
    * already persists `#ts=` MONOTONE (max(now, predecessor + 1) at
    * commit time — see [[commitManifest]]), so for tables written by
    * it this read-time pass is the identity and resolution is STABLE
    * under vacuum: expiring early history can never shift a later
    * version's effective time (the pass remains for legacy/mtime
    * manifests, whose raw clocks may interleave). */
  def commitTimes(spark: SparkSession, dir: String)
      : Seq[(Long, Long)] = {
    var eff = Long.MinValue
    versions(spark, dir).sorted.flatMap { v =>
      rawTsOpt(spark, dir, v).map { raw =>
        eff = math.max(raw, if (eff == Long.MinValue) raw else eff + 1)
        v -> eff
      }
    }
  }

  /** A promoted manifest's RAW in-commit clock (`#ts=`, mtime for
    * legacy manifests) is immutable — cache it per (dir, version) so
    * the effective-time fold and every commit's monotone anchor cost
    * zero manifest reads once warm. */
  private val rawTsCache =
    new BoundedCache[(String, Long), java.lang.Long](1 << 16)

  private def rawTs(spark: SparkSession, dir: String, v: Long): Long =
    rawTsCache.computeIfAbsent((dir, v), _ =>
      java.lang.Long.valueOf(readManifestFull(spark, dir, v).ts.getOrElse(
        hadoopFs(spark, dir)
          .getFileStatus(manifestPath(dir, v)).getModificationTime)))

  /** [[rawTs]] that treats a version vanished between the listing and
    * the read — a CONCURRENT VACUUM expiring history mid-fold — as
    * absent rather than an error: an expired version cannot affect
    * any future AS OF resolution (read-time folds see the same
    * retained set), so skipping it keeps a racing commit or history
    * query from failing spuriously. */
  private def rawTsOpt(spark: SparkSession, dir: String,
      v: Long): Option[Long] =
    try Some(rawTs(spark, dir, v))
    catch { case _: IllegalArgumentException => None }

  /** Specs that TAMPER a promoted manifest's `#ts=` in place (clock-
    * skew simulations) step outside the immutability contract the
    * cache rides on — they drop the table's cached clocks first. */
  private[ext] def invalidateTimestampCache(dir: String): Unit = {
    rawTsCache.removeIf(_._1 == dir)
  }

  /** The EFFECTIVE (monotonized) commit time of the newest version in
    * `vs` — the same fold [[commitTimes]] runs over the retained
    * chain; None when `vs` is empty. */
  private def effectiveTs(spark: SparkSession, dir: String,
      vs: Seq[Long]): Option[Long] =
    vs.sorted.foldLeft(Option.empty[Long]) { (eff, v) =>
      rawTsOpt(spark, dir, v) match {
        case Some(raw) => Some(eff.fold(raw)(e => math.max(raw, e + 1)))
        case None => eff // vacuumed mid-fold: gone from read-time too
      }
    }

  /** The latest version whose effective commit time is at or before
    * `tsMillis` — loud when the timestamp predates the oldest
    * RETAINED commit (vacuum may have expired earlier history; naming
    * that beats silently serving the oldest survivor). */
  def versionAsOf(spark: SparkSession, dir: String,
      tsMillis: Long): Long = {
    val times = commitTimes(spark, dir)
    times.filter(_._2 <= tsMillis).lastOption.map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"no version of the MergeTable at $dir is as old as " +
          s"$tsMillis — the oldest retained commit is " +
          s"${times.headOption.map(_._2).getOrElse(-1L)} " +
          "(earlier history may have been vacuumed)"))
  }

  /** [[readTable]] resolved by TIMESTAMP instead of version. */
  def readTableAsOf(spark: SparkSession, dir: String,
      tsMillis: Long): DataFrame =
    readTable(spark, dir, Some(versionAsOf(spark, dir, tsMillis)))

  /** The manifest-only version ledger behind `merge_table_history`. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val times = commitTimes(spark, dir).toMap
    val rows = versions(spark, dir).sorted.map { v =>
      val md = readManifestFull(spark, dir, v)
      val buckets = md.entries.map(bucketOfEntry).distinct
      val attested = fpTotal(md.fps, buckets.toSet)
      (v, md.entries.size.toLong, buckets.size.toLong,
        attested.map(fpRows),
        new java.sql.Timestamp(times(v)))
    }
    import spark.implicits._
    rows.toDF("v", "files", "buckets", "rows", "commit_ts")
  }

  /** Builder for `merge_table_detail(dir)`: the one-row DESCRIBE
    * DETAIL idiom — key column, live version, bucket width, live
    * files/buckets, manifest-attested row count (null where any
    * bucket is unattested), retained versions, tags, constraints —
    * all from metadata, zero data reads. */
  private[graft] val detailFunctionBuilder
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    exprs =>
      require(exprs.length == 1,
        s"merge_table_detail(dir) takes 1 argument, got ${exprs.length}")
      val dir = litString("merge_table_detail", exprs.head, "dir")
      val spark = org.apache.spark.sql.SparkSession.active
      detail(spark, dir).queryExecution.logical
  }

  /** The metadata-only table detail behind `merge_table_detail`. */
  def detail(spark: SparkSession, dir: String): DataFrame = {
    val vs = versions(spark, dir)
    val (cur, md) = snapshot(spark, dir, vs.lastOption)
    val buckets = md.entries.map(bucketOfEntry).distinct
    val attested = fpTotal(md.fps, buckets.toSet)
    import spark.implicits._
    // bloom COVERAGE (files_with_bloom vs files) makes equality-
    // skipping health observable: blooms are advisory, so a coverage
    // gap (files written before the property was set) degrades
    // silently at plan time — this is where an operator sees it
    // the advisor's verdict rides the same row, so an operator's ONE
    // describe-detail probe also answers "does this table need
    // maintenance, and what exactly would run"
    val advice = maintenanceAdvice(spark, dir)
    val adviceStr =
      if (advice.isEmpty) "none"
      else advice.map(a =>
        s"${a.action}:${a.buckets.size} bucket(s)").mkString("; ")
    Seq((keyMeta(spark, dir, None), cur, md.hexDigits.toLong,
      md.entries.size.toLong, buckets.size.toLong,
      attested.map(fpRows), vs.size.toLong,
      tags(spark, dir).size.toLong,
      constraints(spark, dir).size.toLong,
      md.dvs.size.toLong, md.dvf.values.sum,
      md.props.size.toLong,
      md.bls.keySet.count(md.entries.toSet).toLong,
      adviceStr))
      .toDF("key_col", "version", "hex_digits", "files", "buckets",
        "rows", "versions_retained", "tags", "constraints",
        "dv_files", "dv_tombstones", "properties", "files_with_bloom",
        "maintenance_advice")
  }

  /** Register the SQL table-valued surface (`merge_table`,
    * `table_changes`, `merge_table_history`, `merge_table_detail`) on
    * a session built
    * without `spark.sql.extensions=graft.GraftExtensions` —
    * idempotent (re-registration overwrites with the same builder). */
  def registerSql(spark: SparkSession): Unit =
    Seq("merge_table" -> tableFunctionBuilder,
      "merge_table_as_of" -> asOfFunctionBuilder,
      "table_changes" -> changesFunctionBuilder,
      "merge_table_history" -> historyFunctionBuilder,
      "merge_table_detail" -> detailFunctionBuilder)
      .foreach { case (name, builder) =>
        spark.sessionState.tableFunctionRegistry.registerFunction(
          new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            MergeTable.getClass.getName, name),
          builder)
      }

  /** POINT LOOKUP by key: the rows of `keys` at a version (default:
    * latest), reading ONLY the impacted buckets' files — the manifest
    * prunes DRIVER-SIDE by the same md5 arithmetic the write path
    * buckets with, so a handful of keys on a 100 TB table costs a
    * handful of files, never a snapshot listing. The declarative twin
    * is [[graft.plans.KeyToBucketPruning]] (a `key IN (...)` filter on
    * [[readTable]] prunes the same partitions through Catalyst); this
    * API form needs no rule registration and returns exactly the
    * matched rows. Integral and string keys only — the types whose
    * toString equals Spark's CAST AS STRING. The frame is the prepared
    * lookup leaf ([[graft.plans.MergeTableLookup]]) over the impacted
    * buckets' relation: keys confined to one bucket collect on the
    * driver, with no Spark job ([[graft.plans.DriverLookup]]), and more
    * buckets run a scheduled scan of the same fragment. A snapshot
    * with deletion vectors, or a key that does not bind losslessly to
    * the key column's type, reads through the DV-aware frame
    * instead. */
  def readKeys(spark: SparkSession, dir: String, keys: Seq[Any],
      version: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "readKeys needs at least one key")
    val key = keyMeta(spark, dir, None)
    val (v, man) = snapshot(spark, dir, version)
    val lits = keys.map {
      case k @ (_: Long | _: Int | _: Short | _: Byte | _: String) =>
        org.apache.spark.sql.catalyst.expressions.Literal(k)
      case k => throw new IllegalArgumentException(
        "readKeys supports integral and string keys, got " +
          (if (k == null) "null" else k.getClass.getName))
    }
    val buckets = keys
      .map(k => graft.plans.KeyToBucketPruning.bucketOf(k.toString,
        man.hexDigits))
      .toSet
    val entries = man.entries.filter(e => buckets.contains(bucketOfEntry(e)))
    lookupLeaf(spark, dir, v, man, Left(key), lits, None,
        if (entries.isEmpty) man.entries else entries)
      .map(org.apache.spark.sql.graft.Bridge.ofRows(spark, _))
      .getOrElse(
        if (entries.isEmpty) readTable(spark, dir, Some(v)).filter(lit(false))
        else applyLogicalView(
          readEntries(spark, dir, man, entries)
            .filter(col(key).isin(keys: _*)),
          man.cols))
  }

  /** The prepared leaf of a parsed SQL lookup
    * ([[graft.plans.PreparedLookup]]): the version resolved now, as
    * the `merge_table` TVF resolves it, and the leaf built over the
    * snapshot's whole relation — the TVF's own cached scan — so the
    * output schema is the general path's. The compared column is the
    * key when it carries the footer key stamp at the snapshot's width,
    * the same test [[graft.plans.KeyToBucketPruning]] applies. None
    * sends the statement down the general path. */
  private[graft] def prepareLookup(spark: SparkSession,
      spec: graft.plans.PreparedLookup.Spec)
      : Option[graft.plans.MergeTableLookup] = {
    val (v, man) = snapshot(spark, spec.dir, spec.version.map(
      versionArg(spark, spec.dir, "merge_table", "version", _)))
    lookupLeaf(spark, spec.dir, v, man, Right(spec.column),
      Seq(spec.value), spec.columns, man.entries)
  }

  /** The one builder of [[graft.plans.MergeTableLookup]]: `Project`
    * over `Filter(key = lit AND bucket = md5prefix(lit))` — `IN` lists
    * for several keys — over the cached scan relation of `relEntries`
    * in the snapshot's logical view. `key` is the table's key column
    * (`readKeys`) or a SQL lookup's compared column, resolved with the
    * session resolver like the selected `columns` (None: all). Each
    * literal binds only where that is lossless: an integral literal in
    * the range of an integral key, or a string on a string key. None,
    * for the caller's general path, on a snapshot with deletion
    * vectors, an unbindable literal or an unresolvable column. */
  private def lookupLeaf(spark: SparkSession, dir: String, v: Long,
      man: ManifestData, key: Either[String, String],
      values: Seq[org.apache.spark.sql.catalyst.expressions.Literal],
      columns: Option[Seq[String]],
      relEntries: Seq[String]): Option[graft.plans.MergeTableLookup] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, And,
      Attribute, EqualTo, Expression, In, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    import org.apache.spark.sql.types._
    if (man.dvf.nonEmpty || relEntries.isEmpty) return None
    val rel = scanEntriesRaw(spark, dir, relEntries, man.eschs,
      widesOf(man.props)).queryExecution.analyzed
    val view =
      if (man.cols.isEmpty) rel
      else Project(rel.output.flatMap(a => logicalName(man.cols, a.name)
        .map(l => if (l == a.name) a else Alias(a, l)())), rel)
    val resolver = spark.sessionState.conf.resolver
    def resolve(name: String): Option[Attribute] =
      view.resolve(Seq(name), resolver).collect { case a: Attribute => a }
    val stamp = graft.plans.KeyToBucketPruning.KeyHexMeta
    val keyAttr = key.fold(k => rel.output.find(_.name == k),
      c => resolve(c).flatMap(a => rel.output.find(_.exprId == a.exprId))
        .filter(a => a.metadata.contains(stamp) &&
          a.metadata.getLong(stamp) == man.hexDigits))
    val bucketAttr = rel.output.find(_.name == "bucket")
    def bind(l: Literal, dt: DataType): Option[Literal] = (l.value, dt) match {
      case (n @ (_: java.lang.Long | _: java.lang.Integer |
          _: java.lang.Short | _: java.lang.Byte), _) =>
        val x = n.asInstanceOf[Number].longValue
        dt match {
          case LongType => Some(Literal(x))
          case IntegerType if x.isValidInt => Some(Literal(x.toInt))
          case ShortType if x.isValidShort => Some(Literal(x.toShort))
          case ByteType if x.isValidByte => Some(Literal(x.toByte))
          case _ => None
        }
      case (_: org.apache.spark.unsafe.types.UTF8String, StringType)
          if l.dataType == StringType => Some(l)
      case _ => None
    }
    val projection = columns.fold(Option(view.output)) { cs =>
      val rs = cs.map(resolve)
      if (rs.forall(_.isDefined)) Some(rs.flatten) else None
    }
    for {
      k <- keyAttr
      b <- bucketAttr
      cols <- projection
      bound = values.map(bind(_, k.dataType))
      if bound.forall(_.isDefined)
    } yield {
      val lits = bound.flatten
      val buckets = lits.map(l => Literal(graft.plans.KeyToBucketPruning
        .bucketOf(l.value.toString, man.hexDigits))).distinct
      def isIn(a: Attribute, ls: Seq[Literal]): Expression = ls match {
        case Seq(one) => EqualTo(a, one)
        case _ => In(a, ls)
      }
      graft.plans.MergeTableLookup(dir, v, Project(cols,
        Filter(And(isIn(k, lits), isIn(b, buckets)), view)))
    }
  }

  /** Create the table at `dir` from `df`, keyed (and hash-bucketed) by
    * `keyCol` — version 1 at bucket width `hexDigits` (recorded in the
    * manifest header; later snapshots inherit it until [[rebucket]]).
    * One shuffle on the bucket id; one file per non-empty bucket (a
    * task owning several bucket values still writes one file per value
    * under partitionBy). */
  def create(df: DataFrame, dir: String, keyCol: String,
      hexDigits: Int = HEX_DIGITS): Unit = {
    // "bucket" and "v" are the table's PHYSICAL partition columns — a
    // payload column with either name would be silently destroyed
    // (bucket: overwritten by the hash below; v: dropped by every
    // read). Reject at create, the only gate every table passes once.
    val reserved = df.columns.toSet.intersect(Set("bucket", "v"))
    require(reserved.isEmpty,
      s"column name(s) ${reserved.mkString(", ")} are reserved for the " +
        "table layout (bucket = hash partition, v = version epoch) — " +
        "rename before create")
    require(df.columns.contains(keyCol),
      s"key column $keyCol is not in the input (${df.columns.mkString(",")})")
    val s = df.sparkSession
    keyMeta(s, dir, Some(keyCol))
    commitEpoch(s, dir, 0L, ManifestData(hexDigits), Some(EpochRows(
      df.withColumn("bucket", bucketCol(col(keyCol), hexDigits))))): Unit
  }

  /** A write batch bucketed at the snapshot's width and materialised
    * once, with the buckets it touches and its row count, from ONE
    * aggregate job (O(buckets) driver rows, the documented cost class).
    * A keyed batch (`gate` names it) also passes the AT-MOST-ONE-ROW-
    * PER-KEY gate in that job — per-bucket distinct key counts SUM to
    * the global distinct because the md5 buckets partition the
    * keyspace. A CDC batch carrying two changes to one key has no
    * defined latest here: both rows would survive as silent duplicate
    * keys. Collapse upstream (MergeStream's latestBy does it by a
    * sequence column); the gate turns the silent corruption into a
    * loud error for the price already paid to find the buckets. A key
    * list (`gate` None) collects only its buckets; its count is 0. */
  private def bucketed(df: DataFrame, key: String, hexDigits: Int,
      gate: Option[String]): (DataFrame, Set[String], Long) = {
    val batch = df.withColumn("bucket", bucketCol(col(key), hexDigits))
      .localCheckpoint(true)
    gate match {
      case None =>
        (batch, batch.select("bucket").distinct().collect()
          .map(_.getString(0)).toSet, 0L)
      case Some(what) =>
        val perBucket = batch.groupBy("bucket")
          .agg(count(lit(1)), count_distinct(col(key))).collect()
        val nBatch = perBucket.map(_.getLong(1)).sum
        val nKeys = perBucket.map(_.getLong(2)).sum
        require(nBatch == nKeys,
          s"$what has $nBatch rows over $nKeys keys — at most one row " +
            "per key (collapse to latest upstream, e.g. by a " +
            "sequence/timestamp column)")
        (batch, perBucket.map(_.getString(0)).toSet, nBatch)
    }
  }

  /** What one keyed write did — the fields [[CowStats]],
    * [[MorUpsertStats]] and [[MorDeleteStats]] report. */
  private final case class Written(version: Long, buckets: Long,
    filesRead: Long, filesWritten: Long, matched: Long, batchRows: Long,
    plan: MorPlan)

  /** UPSERT `updates` (absolute rows, same schema as the table, no
    * bucket column, AT MOST ONE ROW PER KEY — a batch with two rows for
    * one key has no defined latest; collapse upstream, e.g. by
    * max-timestamp, before applying) by the table's key: impacted
    * buckets are computed from the batch keys (driver list bounded by
    * the bucket count), ONLY those partitions are read (pruned scan),
    * old versions of updated keys drop by anti-join, the rewritten
    * buckets land as new files under the next epoch, and the manifest
    * commit publishes them atomically. Cost: O(|batch| + |impacted
    * buckets' rows|) plus one manifest write — never a table scan, and
    * never a mutation of a live file. */
  def upsert(spark: SparkSession, dir: String,
      updates: DataFrame): CowStats =
    upsertWithHook(spark, dir, updates, () => ())

  /** [[upsert]] with a spec-only injection point fired between the
    * epoch write and the manifest promotion — the window a concurrent
    * committer (or a crash) exploits; MergeTableSpec interleaves a
    * competing upsert there to prove the retry protocol. */
  private[graft] def upsertWithHook(spark: SparkSession, dir: String,
      updates: DataFrame, beforeCommit: () => Unit): CowStats = {
    val w = upserted(spark, dir, updates, beforeCommit, mor = false)
    CowStats(w.version, w.buckets, w.filesRead, w.filesWritten, w.matched,
      w.batchRows - w.matched)
  }

  /** MERGE-ON-READ upsert: matched keys' live old rows are TOMBSTONED
    * (deletion vectors, [[deleteKeysMor]]'s machinery) and the batch
    * lands as a small APPEND epoch in the same buckets — ZERO existing
    * files rewritten, write cost O(batch) however large the impacted
    * buckets (copy-on-write [[upsert]] rewrites them wholesale; this
    * is the Delta DV-merge write path). The read side merges epochs
    * per bucket (mergeSchema) and anti-joins the tombstones; OPTIMIZE
    * compacts the accumulated small files and purges the tombstones.
    *
    * Bucket fingerprints stay EXACT by pure arithmetic: old fp MINUS
    * the tombstoned rows' hash sums PLUS the appended epoch's read-back
    * fp — every term a component-wise sum, so [[fsckDeep]] re-attests
    * and the changefeed sees precisely the changed buckets. Same
    * validation surface as [[upsert]]: one row per key, extend-only
    * schema, CHECK constraints, reserved names. An empty batch commits
    * nothing (a copy-on-write upsert commits an unchanged version).
    *
    * The trade: each MOR upsert still READS the impacted buckets (row
    * identities of the matched keys), and reads accumulate one small
    * file per touched bucket per commit until OPTIMIZE — the classic
    * MOR read tax. Use for small/latency-sensitive batches; COW for
    * bulk rewrites. */
  def upsertMor(spark: SparkSession, dir: String,
      updates: DataFrame): MorUpsertStats =
    upsertMorWithHook(spark, dir, updates, () => ())

  /** [[upsertMor]] with the [[upsertWithHook]] injection point. */
  private[graft] def upsertMorWithHook(spark: SparkSession, dir: String,
      updates: DataFrame, beforeCommit: () => Unit): MorUpsertStats = {
    val w = upserted(spark, dir, updates, beforeCommit, mor = true)
    MorUpsertStats(w.version, w.buckets, w.filesWritten, w.matched,
      w.batchRows - w.matched, w.plan.newDvs.size.toLong)
  }

  /** The one body of [[upsert]] and [[upsertMor]]: copy-on-write
    * rewrites the impacted buckets from their live rows minus the
    * batch keys plus the batch; merge-on-read tombstones the matched
    * rows and appends the batch. */
  private def upserted(spark: SparkSession, dir: String,
      updates: DataFrame, beforeCommit: () => Unit,
      mor: Boolean): Written = {
    val op = if (mor) "upsertMor" else "upsert"
    retryOnConflict(op, dir) {
      // "v" is the physical version-epoch partition column: a batch
      // column with that name would be dropped by every later read
      // (extend-only evolution would otherwise admit it silently).
      // "bucket" is allowed — it is recomputed from the key below, so
      // feeding readTable output back through upsert stays legal.
      require(!updates.columns.contains("v"),
        "column name v is reserved for the table layout (version " +
          "epoch) — rename before upsert")
      val key = keyMeta(spark, dir, None)
      val (cur, man) = snapshot(spark, dir)
      // the batch arrives in LOGICAL names; the files speak physical
      val (batch, impacted, nBatch) = bucketed(
        applyWidesCast(toPhysical(updates, man.cols), widesOf(man.props)),
        key, man.hexDigits, Some(s"$op batch"))
      if (mor && nBatch == 0L)
        return Written(cur, 0L, 0L, 0L, 0L, 0L, NoTombstones)
      val rewritten = man.entries.filter(e =>
        impacted.contains(bucketOfEntry(e)))
      // all-inserts-into-new-buckets: nothing existing to merge; the
      // batch's own shape stands in for the (empty) existing side
      val existing =
        if (rewritten.isEmpty) batch.limit(0)
        else if (mor) scanEntriesRaw(spark, dir, rewritten, man.eschs,
          widesOf(man.props))
        else readEntries(spark, dir, man, rewritten)
      // rowsMatched is DERIVED, not counted (guide §1.2 — fewer
      // passes): the manifest's per-bucket fingerprints carry exact
      // LIVE row counts (tombstone deletes decrement them), so
      //   matched = existingLive + |batch| - |merged epoch rows|
      // with |merged epoch rows| read off the commit's own read-back
      // fingerprints. A legacy bucket carrying no fingerprint falls
      // back to the counted path. Merge-on-read counts its tombstones.
      val rewrittenBuckets = rewritten.map(bucketOfEntry).distinct
      val attested = rewrittenBuckets.forall(man.fps.contains)
      val matchedCounted =
        if (mor || attested) -1L
        else existing.join(batch.select(key), Seq(key), "left_semi")
          .count()
      // SCHEMA EVOLUTION, extend-only: the batch may ADD columns (old
      // rows read null for them via mergeSchema) but must carry every
      // column the impacted files physically store — a batch silently
      // missing one would null it out for every key it touches, which
      // is a bug, not an evolution. (A column that exists only in
      // OTHER buckets' files is not required: the impacted rows never
      // stored it, so writing them without it preserves contents
      // exactly — mergeSchema reads null either way.)
      // DROPPED physicals are exempt: the batch cannot (and must not)
      // carry them — existing rows keep their bytes, batch rows read
      // null, and old snapshots still see the data
      val droppedPhys = man.cols.filter(_._2.isEmpty).keySet
      val missing = existing.columns.toSet -- batch.columns.toSet --
        droppedPhys
      require(missing.isEmpty,
        s"$op batch is missing table columns: ${missing.mkString(",")}" +
          " (schema changes are extend-only)")
      // both consumers of the merged rows — the constraint aggregate
      // (only when constraints exist) and the epoch write — recompute
      // the join from the deterministic parquet scan and the
      // checkpointed batch
      val rows =
        if (mor) batch
        else existing.join(batch.select(key), Seq(key), "left_anti")
          .unionByName(batch, allowMissingColumns = true)
      enforceConstraints(spark, dir, applyLogicalView(rows, man.cols), op)
      val plan =
        if (!mor) NoTombstones
        else morTombstonePlan(spark, dir, cur, man, rewritten,
          _.join(batch.select(key), Seq(key), "left_semi"))
      val ec = commitEpoch(spark, dir, cur, man, Some(EpochRows(rows)),
        replaces = if (mor) Set.empty else impacted,
        mor = Option.when(mor)(plan), beforeCommit = beforeCommit)
      val matched =
        if (mor) plan.nTomb
        else if (attested)
          rewrittenBuckets.map(b => fpRows(Map(b -> man.fps(b)))).sum +
            nBatch - ec.freshRows
        else matchedCounted
      Written(ec.version, impacted.size.toLong, rewritten.size.toLong,
        ec.fresh.size.toLong, matched, nBatch, plan)
    }
  }

  /** HARD-DELETE rows by key — the write-path complement of the index
    * family's tombstone forget: same impacted-bucket copy-on-write
    * epoch + manifest commit; a bucket whose rows ALL die simply
    * contributes no file to the new manifest. The rows remain readable
    * at PRIOR versions until [[vacuum]] — deletion-for-compliance is
    * complete only once retention passes, and q143 prices exactly
    * that. */
  def deleteKeys(spark: SparkSession, dir: String,
      keys: DataFrame): CowStats = {
    val w = deleted(spark, dir, keys, () => (), mor = false)
    CowStats(w.version, w.buckets, w.filesRead, w.filesWritten, w.matched,
      0L)
  }

  final case class MorDeleteStats(version: Long, rowsDeleted: Long,
    filesAffected: Long, bucketsTouched: Long, dvFilesAdded: Long)

  /** MERGE-ON-READ delete by key: instead of rewriting every impacted
    * bucket (the [[deleteKeys]] copy-on-write contract — write
    * amplification ∝ bucket size however few rows die), the matching
    * rows' parquet ROW IDENTITIES (file, row index) land in a
    * DELETION-VECTOR file under `_dvs/` and the new manifest annotates
    * the affected data files (`#dvf=`) — ZERO data files rewritten,
    * write cost ∝ deleted rows. Reads anti-join the tombstones (only
    * dirty files pay — see [[readEntries]]); [[optimize]] of a dirty
    * bucket materializes the deletes and sheds its annotations; the
    * manifest's `#requires=dv` reader gate keeps a DV-blind engine
    * from silently resurrecting the rows.
    *
    * The impacted buckets' content FINGERPRINTS are DECREMENTED
    * exactly: the fp hash channels are order-independent SUMS of
    * per-row xxhash64, so subtracting the deleted rows' contributions
    * (one O(deleted rows) aggregate over the candidate scan) yields
    * the survivors' fingerprint bit-for-bit — [[fsckDeep]] re-attests
    * it, [[changes]] prunes by it, and a later rewrite's read-back
    * fingerprint lands on the same value, which is why compaction
    * stays CDC-free even while purging tombstones. A legacy bucket
    * carrying NO fingerprint refuses the MOR path loudly (its CDC
    * fallback is file-list identity, which a tombstone-only commit
    * does not change — silence would hide the deletes from the
    * changefeed); use [[deleteKeys]] there.
    *
    * Rows stay readable at PRIOR versions until [[vacuum]] — same
    * retention contract as every writer here. Deleting a key twice is
    * exact: already-tombstoned rows are invisible to the candidate
    * scan, so replays decrement nothing. */
  def deleteKeysMor(spark: SparkSession, dir: String,
      keys: DataFrame): MorDeleteStats =
    deleteKeysMorWithHook(spark, dir, keys, () => ())

  /** [[deleteKeysMor]] with the [[upsertWithHook]] injection point. */
  private[graft] def deleteKeysMorWithHook(spark: SparkSession,
      dir: String, keys: DataFrame,
      beforeCommit: () => Unit): MorDeleteStats = {
    val w = deleted(spark, dir, keys, beforeCommit, mor = true)
    w.plan.deleteStats(w.version)
  }

  /** The one body of [[deleteKeys]] and [[deleteKeysMor]]:
    * copy-on-write rewrites the impacted buckets from their live rows
    * minus the keys; merge-on-read tombstones those rows. */
  private def deleted(spark: SparkSession, dir: String, keys: DataFrame,
      beforeCommit: () => Unit, mor: Boolean): Written =
    retryOnConflict(if (mor) "deleteKeysMor" else "deleteKeys", dir) {
      val key = keyMeta(spark, dir, None)
      val (cur, man) = snapshot(spark, dir)
      val (ks, impacted, _) = bucketed(
        keys.select(col(keys.columns.head).as(key)), key, man.hexDigits,
        None)
      val rewritten = man.entries.filter(e =>
        impacted.contains(bucketOfEntry(e)))
      if (mor) {
        val plan = morTombstonePlan(spark, dir, cur, man, rewritten,
          _.join(ks.select(key), Seq(key), "left_semi"))
        Written(commitTombstones(spark, dir, cur, man, plan, beforeCommit),
          0L, 0L, 0L, plan.nTomb, 0L, plan)
      } else {
        // deleting keys that hash only to never-written buckets:
        // nothing to scan, nothing to rewrite (the empty side's schema
        // is irrelevant — zero rows write zero files)
        val existing =
          if (rewritten.isEmpty) ks.limit(0)
          else readEntries(spark, dir, man, rewritten)
        // rowsMatched derived from fingerprint row counts (the upsert
        // discipline): matched = existingLive - |survivor epoch rows|
        val rewrittenBuckets = rewritten.map(bucketOfEntry).distinct
        val attested = rewrittenBuckets.forall(man.fps.contains)
        val matchedCounted =
          if (attested) -1L
          else existing.join(ks.select(key), Seq(key), "left_semi").count()
        val survivors =
          existing.join(ks.select(key), Seq(key), "left_anti")
        val ec = commitEpoch(spark, dir, cur, man,
          Some(EpochRows(survivors)), replaces = impacted,
          beforeCommit = beforeCommit)
        val matched =
          if (attested)
            rewrittenBuckets.map(b => fpRows(Map(b -> man.fps(b)))).sum -
              ec.freshRows
          else matchedCounted
        Written(ec.version, impacted.size.toLong, rewritten.size.toLong,
          ec.fresh.size.toLong, matched, 0L, NoTombstones)
      }
    }

  /** MERGE-ON-READ predicate delete — `cond` speaks the table's
    * LOGICAL column names (the SQL `DELETE … WHERE` shape). Scans the
    * snapshot once to find victims (file pruning applies where the
    * predicate is manifest-stats-prunable), writes their row
    * identities as tombstones, rewrites nothing. */
  def deleteWhereMor(spark: SparkSession, dir: String,
      cond: Column): MorDeleteStats =
    retryOnConflict("deleteWhereMor", dir) {
      val (cur, man) = snapshot(spark, dir)
      val plan = morTombstonePlan(spark, dir, cur, man, man.entries, { live =>
        // the predicate resolves against the LOGICAL view, but the
        // fingerprint decrement must hash PHYSICAL columns (names
        // drive the hash-input sort order; dropped physicals still
        // contribute bytes) — so pick row IDENTITIES logically, then
        // semi-join them back onto the physical frame
        // checkpoint severs the self-join lineage (ids derives from
        // `live`) and materializes only O(deleted rows)
        val ids = applyLogicalView(live, man.cols).filter(cond)
          .select(col("__dv_file"), col("__dv_pos"))
          .localCheckpoint(true)
        // the victim set is O(deleted rows) and a predicate delete can
        // match ANY fraction of the table (SQL DELETE without WHERE
        // routes here as lit(true) — the natural retention-purge
        // shape), so the broadcast is GATED like every sibling
        // tombstone side (liveWithIdentity, mergeMor): small sets
        // broadcast, larger ones take the shuffle semi-join —
        // degradation, never a driver OOM. The count is against the
        // already-materialized checkpoint, so it prices one cached
        // aggregate, not a recompute.
        val idsJoin = if (ids.count() <= DvBroadcastMaxRows)
          broadcast(ids) else ids
        live.join(idsJoin, Seq("__dv_file", "__dv_pos"),
          "left_semi")
      })
      plan.deleteStats(
        commitTombstones(spark, dir, cur, man, plan, () => ()))
    }

  /** The computed-and-written (but UNCOMMITTED) half of a
    * merge-on-read mutation: tombstones on disk under
    * `_dvs/<dvName>`, per-file counts, and per-bucket fingerprint
    * DECREMENTS rendered in the fp wire shape ("dn:dh1:dh2") for
    * [[fpCombine]]. [[commitEpoch]] commits it, and deletes
    * `_dvs/<dvName>` on a lost race. */
  private final case class MorPlan(nTomb: Long,
      perFile: Map[String, Long], fpDelta: Map[String, String],
      newDvs: Seq[String], dvName: String) {
    def deleteStats(version: Long): MorDeleteStats =
      MorDeleteStats(version, nTomb, perFile.size.toLong,
        fpDelta.size.toLong, newDvs.size.toLong)
  }

  /** A merge-on-read write that tombstones nothing. */
  private val NoTombstones = MorPlan(0L, Map.empty, Map.empty, Nil, "")

  /** Commits a tombstone-only version (no epoch) and returns it; a plan
    * that tombstones nothing commits nothing and returns `cur`. */
  private def commitTombstones(spark: SparkSession, dir: String,
      cur: Long, man: ManifestData, plan: MorPlan,
      beforeCommit: () => Unit): Long =
    if (plan.nTomb == 0L) cur
    else commitEpoch(spark, dir, cur, man, mor = Some(plan),
      beforeCommit = beforeCommit).version

  /** Component-wise fp arithmetic over the `rows:h1[:h2]` wire shape:
    * the hash channels are SUMS, so content deltas add and subtract
    * exactly. Width = the narrower side (a legacy two-component
    * attestation keeps its two — [[fpAgrees]]' prefix semantics). */
  private def fpCombine(a: String, b: String, sign: Int): String = {
    val as = a.split(":"); val bs = b.split(":")
    (0 until math.min(as.length, bs.length))
      .map(i => (BigInt(as(i)) + sign * BigInt(bs(i))).toString)
      .mkString(":")
  }

  /** Plans a MOR mutation: `pick` selects the victims from the LIVE
    * rows (existing tombstones pre-applied — a dead row must not
    * decrement twice) of `candidates`, which carry `__dv_file` /
    * `__dv_pos` row identities alongside the physical payload; their
    * tombstones are written, not committed. */
  private def morTombstonePlan(spark: SparkSession, dir: String,
      cur: Long, man: ManifestData, candidates: Seq[String],
      pick: DataFrame => DataFrame): MorPlan = {
    if (candidates.isEmpty) return NoTombstones
    // victims materialize ONCE (O(deleted rows)) and serve both the
    // decrement aggregate and the tombstone write
    val hits = pick(liveWithIdentity(spark, dir, man, candidates))
      .localCheckpoint(true)
    val payload = hits.columns
      .filterNot(c => c == "bucket" || c == "__dv_file" ||
        c == "__dv_pos").sorted.toSeq
    val agg = hits.select(Seq(col("bucket"), col("__dv_file")) ++
        fpHashCols(payload): _*)
      .groupBy("bucket", "__dv_file")
      .agg(count(lit(1)).as("n"), sum("fp_h").as("h"),
        sum("fp_h2").as("h2"))
      .collect()
    if (agg.isEmpty) return NoTombstones
    val unattested = agg.map(_.getString(0)).distinct
      .filterNot(man.fps.contains)
    require(unattested.isEmpty,
      "deletion vectors need per-bucket fingerprints, but bucket(s) " +
        s"${unattested.sorted.mkString(", ")} carry none (legacy " +
        "writer) — their CDC fallback is file-list identity, which a " +
        "tombstone-only commit does not change, so the changefeed " +
        "would silently miss these deletes; use deleteKeys " +
        "(copy-on-write) or optimize the table first")
    val nTomb = agg.map(_.getLong(2)).sum
    val fpDelta = agg.groupBy(_.getString(0)).map { case (b, rs) =>
      val dn = rs.map(_.getLong(2)).sum
      val dh1 = rs.map(r => BigInt(r.getDecimal(3).toBigInteger)).sum
      val dh2 = rs.map(r => BigInt(r.getDecimal(4).toBigInteger)).sum
      b -> s"$dn:$dh1:$dh2"
    }
    val perFile = agg.groupBy(_.getString(1)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    val dvName = s"dv=${cur + 1}-${attemptTag()}"
    val nParts = math.max(1L,
      nTomb / DvBroadcastMaxRows).toInt
    hits.select(col("__dv_file").as("file"), col("__dv_pos").as("pos"))
      .repartition(nParts)
      .write.mode("errorifexists").parquet(s"$dir/_dvs/$dvName")
    val fs = hadoopFs(spark, dir)
    val newDvs = fs.listStatus(new Path(s"$dir/_dvs/$dvName"))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(st => s"_dvs/$dvName/${st.getPath.getName}").toSeq.sorted
    MorPlan(nTomb, perFile, fpDelta, newDvs, dvName)
  }

  final case class MorUpsertStats(version: Long, bucketsTouched: Long,
    filesAppended: Long, rowsMatched: Long, rowsInserted: Long,
    dvFilesAdded: Long)

  /** Clause actions for [[merge]] — the conditional three-way MERGE
    * (SQL:2003 / Delta-Iceberg `MERGE INTO`) re-expressed over the COW
    * table's impacted-bucket write path. Conditions and update
    * expressions are ordinary [[Column]]s over two struct columns the
    * operator provides: `tgt` (the existing row) and `src` (the source
    * row) — e.g. `col("src.cents") > col("tgt.cents")`. */
  sealed trait MergeAction
  object MergeAction {
    /** Replace the row with per-column expressions; a column not named
      * keeps its class default — the existing value for matched /
      * not-matched-by-source clauses, the source value for
      * not-matched inserts. A set name present in NEITHER side's
      * schema EXTENDS it (older rows read null — the upsert
      * extend-only evolution contract). */
    final case class Update(set: Map[String, Column]) extends MergeAction
    /** Take the source row wholesale — matched rows are overwritten,
      * not-matched rows inserted verbatim: [[upsert]]'s latest-wins
      * semantics as one clause. */
    case object UpdateAll extends MergeAction
    /** Drop the row from the new snapshot (still readable at prior
      * versions until [[vacuum]], the [[deleteKeys]] contract). */
    case object Delete extends MergeAction
  }

  /** One WHEN clause: fires on rows of its class whose `condition`
    * holds (None = unconditional); the FIRST firing clause of the
    * class wins — SQL clause-order semantics. */
  final case class MergeWhen(condition: Option[Column],
      action: MergeAction)

  final case class MergeStats(version: Long, bucketsRewritten: Long,
    filesRead: Long, filesWritten: Long, rowsUpdated: Long,
    rowsDeleted: Long, rowsInserted: Long, rowsCarried: Long)

  /** Conditional three-way MERGE in ONE snapshot commit: classify every
    * (target row, source row) pair by key as matched / not-matched
    * (insert candidates) / not-matched-by-source (target rows the
    * source omits), dispatch each class through its WHEN clauses in
    * order, and commit the survivors as the next version — updates,
    * deletes, and inserts land atomically, under the same multi-writer
    * [[retryOnConflict]] protocol as every other writer here.
    *
    * SCALE contract: with no `notMatchedBySource` clause the write is
    * [[upsert]]-shaped — only the SOURCE's hash buckets are read and
    * rewritten, O(source buckets) however large the table (the
    * impacted-bucket discipline, spec-pinned). A `notMatchedBySource`
    * clause must by definition SEE every target row, so it prices the
    * merge at a full-table rewrite — the same honesty as
    * `optimize`; callers wanting the cheap path express deletions as
    * explicit source rows instead.
    *
    * The source carries at most one row per key (the upsert gate —
    * two changes to one key have no defined winner here; collapse
    * upstream). An [[MergeAction.UpdateAll]]/insert clause requires
    * the source to carry every impacted table column (extend-only
    * evolution — a silently absent column would null out every row
    * the clause touches). */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
      matched: Seq[MergeWhen] = Nil,
      notMatched: Seq[MergeWhen] = Nil,
      notMatchedBySource: Seq[MergeWhen] = Nil,
      idempotencyToken: Option[String] = None): MergeStats =
    mergeWithHook(spark, dir, source, matched, notMatched,
      notMatchedBySource, idempotencyToken, () => ())

  /** [[merge]] with MERGE-ON-READ writes: same clause algebra, but
    * changed/deleted target rows TOMBSTONE (deletion vectors) and
    * updated/inserted rows land as a small APPEND epoch — zero
    * existing files rewritten, the [[upsertMor]] cost model applied
    * to the full conditional merge. Carried rows stay as untouched
    * bytes (and are not re-validated — their content is unchanged);
    * constraints check exactly the appended rows. Routed from SQL
    * `MERGE INTO` when `graft.merges.mode` = `mor`. */
  def mergeMor(spark: SparkSession, dir: String, source: DataFrame,
      matched: Seq[MergeWhen] = Nil,
      notMatched: Seq[MergeWhen] = Nil,
      notMatchedBySource: Seq[MergeWhen] = Nil,
      idempotencyToken: Option[String] = None): MergeStats =
    mergeWithHook(spark, dir, source, matched, notMatched,
      notMatchedBySource, idempotencyToken, () => (), mor = true)

  /** [[merge]] with the spec-only injection point between epoch write
    * and manifest promotion — the window a concurrent committer
    * exploits; the two-streams spec plants a competing commit there to
    * prove the retry protocol re-dispatches the clauses against the
    * winner's snapshot with the idempotency token intact. */
  private[graft] def mergeWithHook(spark: SparkSession, dir: String,
      source: DataFrame,
      matched: Seq[MergeWhen],
      notMatched: Seq[MergeWhen],
      notMatchedBySource: Seq[MergeWhen],
      idempotencyToken: Option[String],
      beforeCommit: () => Unit,
      mor: Boolean = false): MergeStats =
    retryOnConflict("merge", dir) {
      import MergeAction._
      require(matched.nonEmpty || notMatched.nonEmpty ||
        notMatchedBySource.nonEmpty,
        "merge needs at least one WHEN clause")
      notMatched.foreach(w => require(w.action != Delete,
        "WHEN NOT MATCHED cannot delete — there is no target row"))
      notMatchedBySource.foreach(w => require(w.action != UpdateAll,
        "WHEN NOT MATCHED BY SOURCE cannot take the source row — " +
          "there is none"))
      require(!source.columns.contains("v"),
        "column name v is reserved for the table layout (version " +
          "epoch) — rename before merge")
      val key = keyMeta(spark, dir, None)
      require(source.columns.contains(key),
        s"merge source must carry the table's key column $key")
      val setNames = (matched ++ notMatched ++ notMatchedBySource)
        .flatMap(_.action match {
          case Update(set) => set.keys
          case _ => Nil
        })
      require(!setNames.contains(key),
        s"an Update clause may not set the key column $key — a re-keyed " +
          "row belongs to a different bucket; delete + insert instead")
      require(!setNames.exists(Set("v", "bucket")),
        "v and bucket are reserved layout column names")
      val (cur, man) = snapshot(spark, dir)
      // one aggregate job: the source's bucket set AND the
      // at-most-one-row-per-key gate (the upsert discipline)
      val (batch, srcBuckets, _) = bucketed(source.drop("bucket"), key,
        man.hexDigits, Some("merge source"))
      val impacted =
        if (notMatchedBySource.nonEmpty)
          man.entries.map(bucketOfEntry).toSet ++ srcBuckets
        else srcBuckets
      val rewritten = man.entries.filter(e =>
        impacted.contains(bucketOfEntry(e)))
      // the clause algebra runs in LOGICAL space (conditions and SET
      // names are user-facing); the physical boundary is crossed once
      // on the way back down, at toPhysical below
      val existing0 =
        if (rewritten.isEmpty) batch.limit(0)
        else if (!mor) readEntries(spark, dir, man, rewritten)
        // MOR carries each target row's PARQUET IDENTITY so the
        // clause verdicts can translate into tombstones
        else liveWithIdentity(spark, dir, man, rewritten)
      val existing = {
        val e0 = applyLogicalView(existing0, man.cols)
        if (mor && !e0.columns.contains("__dv_file"))
          e0.withColumn("__dv_file", lit(null).cast("string"))
            .withColumn("__dv_pos", lit(null).cast("long"))
        else e0
      }
      val tgtCols = existing.columns.filterNot(c =>
        c == "bucket" || c == "__dv_file" || c == "__dv_pos").toSeq
      val srcCols = batch.columns.filterNot(_ == "bucket").toSeq
      if ((matched ++ notMatched).exists(_.action == UpdateAll)) {
        val dropped = tgtCols.toSet -- srcCols.toSet
        require(dropped.isEmpty,
          s"merge source is missing table columns ${dropped.mkString(",")}" +
            " required by an UpdateAll/insert clause (schema changes " +
            "are extend-only)")
      }
      val t = existing.select(Seq(col(key).as("__gk"),
        struct(tgtCols.map(col): _*).as("tgt")) ++
        (if (mor) Seq(col("__dv_file"), col("__dv_pos")) else Nil): _*)
      val s = batch.select(col(key).as("__gk"),
        struct(srcCols.map(col): _*).as("src"))
      // the using-column full outer join COALESCES the key, so every
      // surviving row re-buckets from the same value its side carried
      val j = t.join(s, Seq("__gk"), "full_outer")
      // clause dispatch: one small integer per row, first-match-wins
      // within each class; ids are 1-based in declaration order.
      // Defaults: matched / by-source rows CARRY (0) — an untouched
      // target row must survive a merge verbatim; a source row no
      // insert clause accepts is SKIPPED (-1) — ignored, not deleted.
      final case class Cl(when: MergeWhen, id: Int, cls: Int)
      val M = 0; val NM = 1; val BS = 2
      val clauses: Seq[Cl] =
        (matched.map(_ -> M) ++ notMatched.map(_ -> NM) ++
          notMatchedBySource.map(_ -> BS)).zipWithIndex
          .map { case ((w, c), i) => Cl(w, i + 1, c) }
      val classCond: Int => Column = {
        case M => col("tgt").isNotNull && col("src").isNotNull
        case NM => col("tgt").isNull
        case _ => col("src").isNull
      }
      val act = clauses.foldRight(
        when(col("tgt").isNull, lit(-1)).otherwise(lit(0))) {
        case (cl, acc) =>
          when(classCond(cl.cls) &&
            cl.when.condition.getOrElse(lit(true)), lit(cl.id))
            .otherwise(acc)
      }
      val classified = j.withColumn("__act", act).localCheckpoint(true)
      val counts: Map[Int, Long] = classified.groupBy("__act").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      def total(ids: Iterable[Int]): Long =
        ids.map(counts.getOrElse(_, 0L)).sum
      val deleteIds = clauses.collect {
        case Cl(MergeWhen(_, Delete), id, _) => id
      }
      val updatedIds = clauses.collect {
        case Cl(w, id, c) if (c == M || c == BS) && w.action != Delete => id
      }
      val insertIds = clauses.collect {
        case Cl(_, id, NM) => id
      }
      // output schema: target columns, then source extensions, then
      // set-only extensions — stable order, extend-only by construction
      val outCols = (tgtCols ++ srcCols ++ setNames).distinct
        .filterNot(_ == key)
      def tgtC(c: String): Column =
        if (tgtCols.contains(c)) col(s"tgt.$c") else lit(null)
      def srcC(c: String): Column =
        if (srcCols.contains(c)) col(s"src.$c") else lit(null)
      val outExprs = outCols.map { c =>
        clauses.foldRight(tgtC(c)) { case (cl, acc) =>
          val v = cl.when.action match {
            case UpdateAll => srcC(c)
            case Update(set) =>
              set.getOrElse(c, if (cl.cls == NM) srcC(c) else tgtC(c))
            case Delete => acc // row filtered below; value irrelevant
          }
          when(col("__act") === cl.id, v).otherwise(acc)
        }.as(c)
      }
      // the new token JOINS the carried-forward map (and a replayed id
      // never regresses a newer one — max, the monotone frontier)
      val withToken: ManifestData => ManifestData =
        idempotencyToken.fold(identity[ManifestData] _) { t =>
          val cut = t.lastIndexOf(':')
          require(cut > 0,
            s"idempotency token '$t' must be <streamId>:<batchId>")
          val sid = t.take(cut); val id = t.drop(cut + 1).toLong
          m => m.copy(tokens = m.tokens +
            (sid -> math.max(id, m.tokens.getOrElse(sid, Long.MinValue))))
        }
      // MOR: every CHANGED or DELETED target row tombstones; carries (0)
      // stay as untouched bytes, skipped sources (-1) are ignored, and
      // updated/inserted rows append. COW: the survivors rewrite the
      // impacted buckets.
      val (toWrite, plan) =
        if (mor) {
          val moveIds = updatedIds.filter(id =>
            clauses.exists(cl => cl.id == id && cl.cls != NM)) ++ deleteIds
          val pickIds = classified
            .filter(col("__act").isin(
                moveIds.map(java.lang.Integer.valueOf): _*) &&
              col("__dv_file").isNotNull)
            .select(col("__dv_file"), col("__dv_pos"))
            .localCheckpoint(true)
          val pickJoin = if (total(moveIds) <= DvBroadcastMaxRows)
            broadcast(pickIds) else pickIds
          (classified.filter(col("__act").isin(
              (updatedIds ++ insertIds).map(java.lang.Integer.valueOf): _*)),
            Some(morTombstonePlan(spark, dir, cur, man, rewritten,
              _.join(pickJoin, Seq("__dv_file", "__dv_pos"), "left_semi"))))
        } else {
          val doomed = (deleteIds :+ (-1)).map(java.lang.Integer.valueOf)
          (classified.filter(!col("__act").isin(doomed: _*)), None)
        }
      val outL = toWrite.select(col("__gk").as(key) +: outExprs: _*)
      enforceConstraints(spark, dir, outL, "merge")
      val out = applyWidesCast(toPhysical(outL, man.cols),
          widesOf(man.props))
        .withColumn("bucket", bucketCol(col(key), man.hexDigits))
      val ec = commitEpoch(spark, dir, cur, man, Some(EpochRows(out)),
        replaces = if (mor) Set.empty else impacted, mor = plan,
        change = withToken, beforeCommit = beforeCommit)
      MergeStats(ec.version, impacted.size.toLong, rewritten.size.toLong,
        ec.fresh.size.toLong, total(updatedIds), total(deleteIds),
        total(insertIds), counts.getOrElse(0, 0L))
    }

  /** The highest micro-batch id a streaming writer (`streamId`) has
    * COMMITTED into this table — read from the `#tok=<streamId>:<id>`
    * manifest annotation a token-carrying [[merge]] wrote, scanning
    * retained manifests newest-first (first hit wins). The token rides
    * the SAME atomic manifest promotion as the data, which is what
    * makes a non-replay-idempotent merge EXACTLY-ONCE under
    * foreachBatch's at-least-once delivery: a crash between the table
    * commit and the checkpoint commit replays the batch, the gate sees
    * its own token, and the replay skips — there is no window where
    * data landed but the marker did not. (The upsert stream needs no
    * token because upsert is idempotent BY VALUE; a clause merge is
    * not — a matched Delete turns a replayed row into a not-matched
    * insert candidate.) Retention coupling: every COMMIT — token or
    * not — carries ALL streams' newest tokens forward (the Delta
    * per-app txn-version model), so any vacuum retaining ≥ 1 version
    * retains every stream's frontier even when upserts, optimizes, or
    * restores interleave between a stream's merges; the head manifest
    * alone answers this. (Manifests from before the carry-forward may
    * hold a token only on the committing version — the newest-first
    * scan below covers that legacy shape.) */
  def lastAppliedBatch(spark: SparkSession, dir: String,
      streamId: String): Option[Long] =
    versions(spark, dir).reverse.iterator
      .map(v => readManifestFull(spark, dir, v).tokens.get(streamId))
      .collectFirst { case Some(id) => id }

  /** One manifest walk for a streaming batch's admission gate: the
    * newest applied batch id for `streamId` AND the head properties
    * (write-mode routing) off the SAME read — [[lastAppliedBatch]] +
    * [[properties]] fused, so a foreachBatch gate costs one head-
    * manifest read per micro-batch instead of two. Tokens carry
    * forward on every commit path, so the head normally answers
    * immediately; the walk continues only over token-less history. */
  def streamBatchGate(spark: SparkSession, dir: String,
      streamId: String): (Option[Long], Map[String, String]) = {
    var props = Option.empty[Map[String, String]]
    val last = versions(spark, dir).reverse.iterator.map { v =>
      val man = readManifestFull(spark, dir, v)
      if (props.isEmpty) props = Some(man.props)
      man.tokens.get(streamId)
    }.collectFirst { case Some(id) => id }
    (last, props.getOrElse(Map.empty))
  }

  /** Validate + normalize an OPTIMIZE bucket scope against the table's
    * width; None = whole table. A malformed id is a loud error (a
    * typo'd scope silently rewriting nothing would read as "compacted"
    * forever); an id with no files is legal (an empty bucket is a
    * no-op, the Delta WHERE-matches-nothing semantics). */
  private def normalizeScope(buckets: Option[Seq[String]],
      hexDigits: Int): Option[Set[String]] =
    buckets.map { bs =>
      val norm = bs.map(_.trim.toLowerCase).toSet
      val bad = norm.filterNot(b => b.length == hexDigits &&
        b.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')))
      require(bad.isEmpty,
        s"OPTIMIZE scope must name $hexDigits-hex-digit bucket ids; " +
          s"not buckets: ${bad.mkString(", ")}")
      norm
    }

  /** OPTIMIZE — a contents-invariant, layout-changing version: rewrite
    * every bucket with rows sorted by `sortCol` (so parquet row-group
    * min/max stats prune scans on that column WITHIN each hash bucket —
    * the Layout.zOrderWrite discipline applied inside the table format)
    * and commit it as a normal snapshot. Readers at older versions are
    * untouched; the rewrite is priced like any other epoch
    * (filesWritten = non-empty buckets) and reclaimed by [[vacuum]].
    * Contents-invariance is the q92/q124 contract: q146 holds the
    * optimized table to the SAME oracle as the unoptimized q140
    * state.
    *
    * OPTIMIZE is optionally PARTITION-SELECTIVE (`buckets` — the Delta
    * `OPTIMIZE … WHERE` shape over the table's hash-bucket layout): a
    * 100 TB table compacts INCREMENTALLY, a few buckets per run, and
    * out-of-scope buckets' files are carried into the new manifest
    * verbatim (re-listed, never rewritten — the upsert kept-entry
    * discipline, fingerprints and stats inherited). None rewrites the
    * whole table. */
  def optimize(spark: SparkSession, dir: String, sortCol: String,
      maxRecordsPerFile: Option[Long] = None,
      buckets: Option[Seq[String]] = None): CowStats =
    relayout(spark, dir, "optimize", buckets,
        Map("graft.layout.sort" -> sortCol) ++
          maxRecordsPerFile.map("graft.layout.stripe" -> _.toString)) {
      (man, key, rows) =>
        // STRIPING (maxRecordsPerFile) needs a TOTAL order so stripe
        // boundaries are deterministic and oracle-restatable — the key
        // tiebreak makes (sortCol, key) total, the optimizeZOrder
        // discipline applied to single-column clustering. Without
        // striping the sort stays single-column (existing layouts
        // byte-stable). The epoch write is the only consumer of the
        // deterministic snapshot scan, so it is not materialised.
        EpochRows(rows,
          sortCols = Seq(physOf(man, sortCol)) ++
            maxRecordsPerFile.map(_ => key),
          maxRecordsPerFile = maxRecordsPerFile)
    }

  /** The physical column a logical name occupies in `man`. */
  private def physOf(man: ManifestData, logical: String): String =
    man.cols.collectFirst { case (p, l) if l == logical => p }
      .getOrElse(logical)

  /** Table properties a full-table OPTIMIZE declares its layout in. */
  private val LayoutProps =
    Seq("graft.layout.sort", "graft.layout.zorder", "graft.layout.stripe")

  /** The one body of the OPTIMIZE verbs: rewrites the buckets in scope
    * (all when `buckets` is None) from their live PHYSICAL rows — a
    * rewrite must preserve the files' own column names or the
    * (name-sorted) content fingerprints would shift and the
    * layout-only commit would stop being CDC-free — in the layout
    * `shape` gives them. A scoped rewrite lists ONLY the doomed
    * buckets' files (O(scope), the impacted-bucket read path) — never
    * a table scan. A FULL-table run also DECLARES `layout` as versioned
    * properties so maintenance that rewrites buckets later
    * ([[compactDvs]]) can reconstruct it instead of silently unsorting
    * them; a scoped run changes only part of the table and leaves the
    * declaration alone. */
  private def relayout(spark: SparkSession, dir: String, op: String,
      buckets: Option[Seq[String]], layout: Map[String, String])(
      shape: (ManifestData, String, DataFrame) => EpochRows): CowStats =
    retryOnConflict(op, dir) {
      val key = keyMeta(spark, dir, None)
      val (cur, man) = snapshot(spark, dir)
      val scope = normalizeScope(buckets, man.hexDigits)
      val doomed = scope.fold(man.entries)(bs =>
        man.entries.filter(e => bs.contains(bucketOfEntry(e))))
      if (doomed.isEmpty) CowStats(cur, 0L, 0L, 0L, 0L, 0L)
      else {
        val all = readEntries(spark, dir, man, doomed)
        val doomedBuckets = doomed.map(bucketOfEntry).toSet
        val ec = commitEpoch(spark, dir, cur, man,
          Some(shape(man, key, all)), replaces = doomedBuckets,
          change = m =>
            if (buckets.isDefined) m
            else m.copy(props = m.props -- LayoutProps ++ layout))
        CowStats(ec.version, doomedBuckets.size.toLong,
          doomed.size.toLong, ec.fresh.size.toLong, 0L, 0L)
      }
    }

  /** OPTIMIZE with MULTI-DIMENSIONAL clustering: rewrite every bucket
    * with rows sorted by the Z-ORDER curve of (`xCol`, `yCol`)
    * ([[Layout.withZVal]]'s generator — the same arithmetic q136 pins
    * bit-for-bit against the oracle), so parquet ROW-GROUP min/max
    * stats inside each hash-bucket file prune scans on EITHER predicate
    * column — [[optimize]]'s single-column clustering generalized to
    * the two-predicate workload, inside the table format. Same
    * contents-invariant snapshot commit (q151 holds the optimized table
    * to the identical full-state oracle), same vacuum reclamation.
    *
    * `blockBytes` caps the parquet row-group size: at 100 TB a bucket
    * file holds many row groups naturally and the default is right; the
    * sf-scale ACCEPTANCE instrument passes a small cap so the
    * multi-row-group shape (the thing row-group pruning acts on)
    * exists at test scale too — the knob changes granularity, never
    * content.
    *
    * `maxRecordsPerFile` turns on Z-STRIPING: within each bucket the
    * sorted write ROLLS a new file every N rows of the (zval, key)
    * total order, so a bucket becomes a run of curve-contiguous
    * STRIPE FILES whose per-file min/max stats (written into the
    * manifest as `#st=` lines by the same read-back scan that
    * fingerprints the epoch) bound BOTH value dimensions tightly —
    * the unit [[graft.plans.StatsFilePruning]] skips at PLAN time.
    * Without striping a hash bucket's single file spans near-global
    * value ranges and file-level stats can never skip it; with it, a
    * box predicate on a 100 TB table opens the overlapping stripes
    * and row-group pruning sharpens the rest (q164 pins the planned
    * file count to the oracle's stripe model). The (zval, key) order
    * is TOTAL, so stripe boundaries are deterministic and
    * oracle-restatable — the q137 contiguous-rank-block discipline
    * made physical. */
  def optimizeZOrder(spark: SparkSession, dir: String, xCol: String,
      yCol: String, blockBytes: Option[Long] = None,
      maxRecordsPerFile: Option[Long] = None,
      buckets: Option[Seq[String]] = None): CowStats =
    optimizeZOrderN(spark, dir, Seq(xCol, yCol), blockBytes,
      maxRecordsPerFile, buckets)

  /** [[optimizeZOrder]] at N clustering dimensions (2..7) —
    * [[Layout.withZValN]]'s round-robin curve, whose k=2 instance is
    * value-identical to the binary curve (so the 2-column entry point
    * delegates here without changing a byte of existing layouts).
    * A full-table run declares `graft.layout.zorder=<c1,...,cn>`;
    * [[compactDvs]] reconstructs the same n-ary curve for folded
    * buckets. */
  def optimizeZOrderN(spark: SparkSession, dir: String,
      zCols: Seq[String], blockBytes: Option[Long] = None,
      maxRecordsPerFile: Option[Long] = None,
      buckets: Option[Seq[String]] = None): CowStats =
    relayout(spark, dir, "optimizeZOrder", buckets,
        Map("graft.layout.zorder" -> zCols.mkString(",")) ++
          maxRecordsPerFile.map("graft.layout.stripe" -> _.toString)) {
      (man, key, rows) =>
        EpochRows(
          Layout.withZValN(rows, zCols.map(physOf(man, _)))
            .localCheckpoint(true),
          sortCols = Seq("zval", key), dropAfterSort = Seq("zval"),
          blockBytes = blockBytes, maxRecordsPerFile = maxRecordsPerFile)
    }

  /** REBUCKET — the full-rewrite migration to a new bucket width the
    * module's contract prices explicitly: read the current snapshot,
    * re-hash every key at `newHexDigits`, write the whole table as one
    * epoch (filesWritten = non-empty new buckets — THE migration
    * price), and commit a manifest whose `#hex=` header carries the new
    * width. Contents-invariant (q150 holds the migrated table to the
    * same state oracle, bucket column restated at the new width); TIME
    * TRAVEL crosses the boundary because every retained manifest reads
    * under its own recorded width; subsequent upserts bucket against
    * the new header automatically. When to run it: the ScaleProbe COW
    * leg's collateral-rows slope — when an average batch's collateral
    * neighbors (impacted-bucket rows rewritten per row changed) grow
    * past budget, widen; docs/PLANS.md records the measured drop. */
  def rebucket(spark: SparkSession, dir: String,
      newHexDigits: Int): CowStats = {
    require(newHexDigits >= 1 && newHexDigits <= 8,
      s"bucket width must be 1..8 hex digits, got $newHexDigits")
    retryOnConflict("rebucket", dir) {
      val key = keyMeta(spark, dir, None)
      val (cur, man) = snapshot(spark, dir)
      val rehashed = readEntries(spark, dir, man, liveEntries(dir, cur, man))
        .drop("bucket")
        .withColumn("bucket", bucketCol(col(key), newHexDigits))
      // every old bucket is replaced, and the rewrite materialises every
      // tombstone
      val ec = commitEpoch(spark, dir, cur, man, Some(EpochRows(rehashed)),
        replaces = man.fps.keySet ++ man.entries.map(bucketOfEntry),
        change = _.copy(hexDigits = newHexDigits, dvs = Nil,
          dvf = Map.empty))
      CowStats(ec.version, ec.fresh.size.toLong,
        man.entries.size.toLong, ec.fresh.size.toLong, 0L, 0L)
    }
  }

  final case class DvCompactStats(version: Long, bucketsCompacted: Long,
    filesBefore: Long, filesAfter: Long, tombstonesPurged: Long)

  /** DV / SMALL-EPOCH COMPACTION — the merge-on-read lifecycle's own
    * maintenance verb (Iceberg's rewrite-position-deletes plus Delta's
    * small-file compaction, scoped to exactly the buckets that need
    * it): every bucket carrying a TOMBSTONED file, or FRAGMENTED
    * across more than one epoch with more than `maxFilesPerBucket`
    * data files (MOR appends leave one small file per touched bucket
    * per commit), is rewritten from its LIVE rows — tombstones
    * applied, accumulated epochs folded — while every other bucket's
    * files are re-listed VERBATIM. A clean SINGLE-epoch multi-file
    * bucket is never a target: that shape is a deliberate layout
    * (OPTIMIZE SORT … STRIPE writes N sorted stripes per bucket for
    * value-predicate file skipping), not compaction debt, and folding
    * it would silently destroy the sort order and per-stripe stats a
    * prior OPTIMIZE paid for. For the buckets it DOES rewrite, the
    * fold reconstructs the table's DECLARED layout
    * (`graft.layout.sort` / `.zorder` / `.stripe` — versioned
    * properties a full-table OPTIMIZE records), so a striped bucket
    * dirtied by one MOR append comes back striped and sorted, not
    * folded flat; an undeclared table folds to ONE unsorted file per
    * bucket, the plain small-file shape. Either way this recovers the
    * MOR read tax (row-identity anti-joins + per-file open cost) at
    * O(dirty buckets) — never [[optimize]]'s table- or scope-wide
    * rewrite; run OPTIMIZE to change the declared layout itself.
    *
    * Fingerprints are the INTEGRITY GATE, not an output: the MOR
    * write arithmetic (old − tombstoned + appended, every term a
    * component sum) means the manifest's per-bucket fingerprint is
    * already EXACTLY the live rows' fingerprint — so the rewrite's
    * read-back fp is REQUIRED to match it, and compaction aborts
    * loudly (epoch deleted, nothing committed) on any mismatch rather
    * than laundering a corrupted bucket into a fresh attestation.
    * Matching fps make the commit provably CDC-FREE: a changefeed
    * window straddling it prunes every compacted bucket unread. An
    * attested bucket keeps the manifest's fingerprint (a legacy
    * two-component one stays two-component). A bucket whose every row
    * was tombstoned attests as the all-zero fingerprint, writes no
    * file, and drops out of the manifest.
    * A legacy UNATTESTED bucket (no `#fp=` line — the state
    * [[fsckDeep]] reports as unattested, not corrupt) has nothing to
    * re-attest: it is rewritten and its read-back fingerprint is
    * COMMITTED, attesting it going forward — honestly visible to the
    * changefeed as changed rather than laundered into the CDC-free
    * claim, and never misdiagnosed as corruption.
    * Tombstone files stop being referenced once no annotated data
    * file remains; [[vacuum]] reclaims them like any other
    * unreferenced file. */
  def compactDvs(spark: SparkSession, dir: String,
      maxFilesPerBucket: Int = 1,
      buckets: Option[Seq[String]] = None): DvCompactStats =
    compactDvsWithHook(spark, dir, maxFilesPerBucket, buckets, () => ())

  /** [[compactDvs]] with the [[upsertWithHook]] injection point. */
  private[graft] def compactDvsWithHook(spark: SparkSession, dir: String,
      maxFilesPerBucket: Int, buckets: Option[Seq[String]],
      beforeCommit: () => Unit): DvCompactStats =
    retryOnConflict("compactDvs", dir) {
      require(maxFilesPerBucket >= 1,
        "a bucket keeps at least one file per epoch written")
      val (cur, man) = snapshot(spark, dir)
      val scope = normalizeScope(buckets, man.hexDigits)
      val target = man.entries.groupBy(bucketOfEntry).collect {
        case (b, es) if scope.forall(_.contains(b)) &&
            (es.exists(man.dvf.contains) ||
              (es.size > maxFilesPerBucket &&
                es.map(e => e.take(e.indexOf('/'))).distinct.size > 1))
          => b
      }.toSet
      if (target.isEmpty) DvCompactStats(cur, 0L, 0L, 0L, 0L)
      else {
        val (doomed, kept) = man.entries.partition(e =>
          target.contains(bucketOfEntry(e)))
        val live = readEntries(spark, dir, man, doomed)
          .localCheckpoint(true)
        // a table whose last FULL optimize declared a layout
        // (graft.layout.sort / .zorder / .stripe — versioned
        // properties) gets that layout RECONSTRUCTED for the buckets
        // this fold rewrites: one MOR append must not let the next
        // compaction silently unsort what OPTIMIZE paid for. The
        // fold's fingerprints are order-independent sums, so the
        // re-sort costs nothing of the CDC-free attestation.
        val key = keyMeta(spark, dir, None)
        val stripe = man.props.get("graft.layout.stripe").map(_.toLong)
        val folded =
          (man.props.get("graft.layout.zorder"),
           man.props.get("graft.layout.sort")) match {
            case (Some(xy), _) if xy.contains(",") =>
              // n-ary declaration: reconstruct the same round-robin
              // curve optimizeZOrderN declared, however many columns
              EpochRows(graft.ext.Layout.withZValN(live,
                  xy.split(",").toSeq.map(c => physOf(man, c.trim))),
                Seq("zval", key), Seq("zval"), maxRecordsPerFile = stripe)
            case (None, Some(sc)) =>
              EpochRows(live,
                Seq(physOf(man, sc)) ++ stripe.map(_ => key),
                maxRecordsPerFile = stripe)
            case _ => EpochRows(live, maxRecordsPerFile = stripe)
          }
        // DV-file RETENTION: a scoped fold can EXHAUST a tombstone
        // file (every data file it annotates is rewritten here) while
        // other DV files still cover out-of-scope dirty buckets.
        // Re-listing every `#dv=` would keep the exhausted file on
        // every later DV read's scan and in vacuum's live set until
        // the whole table is clean — so read the retained tombstones
        // once (O(DV bytes), the same relation every MOR read pays)
        // and keep only files annotating a SURVIVING dirty data file.
        // commitManifest drops the `#dvf=` lines of folded files; the
        // two prunings together keep the DV set ∝ live tombstones.
        val survivingDirty = kept.filter(man.dvf.contains)
        val keepDvs =
          if (man.dvs.isEmpty || survivingDirty.isEmpty) Nil
          else {
            import spark.implicits._
            val sd = survivingDirty.toDF("file")
            val needed = spark.read
              .parquet(man.dvs.map(p => s"$dir/$p"): _*)
              .select(col("_metadata.file_path").as("dvp"), col("file"))
              .join(broadcast(sd), Seq("file"), "left_semi")
              .select("dvp").distinct().collect().map(_.getString(0))
            man.dvs.filter(p => needed.exists(_.endsWith("/" + p)))
          }
        // the attestation gate: read-back == manifest, per bucket —
        // for ATTESTED buckets only; an unattested (legacy, no #fp=)
        // bucket has no claim to check and gains one from the rewrite
        def attests(freshFps: Map[String, String]): Unit = {
          val drifted = freshFps.collect {
            case (b, fp) if man.fps.get(b).exists(!fpAgrees(_, fp)) => b
          }
          val vanished = (target -- freshFps.keySet).filter(b =>
            man.fps.get(b).exists(!_.split(":").forall(c => BigInt(c) == 0)))
          // an UNATTESTED bucket that vanishes in the fold is
          // undecidable: with no fingerprint there is no way to prove
          // its every row was tombstoned rather than lost — refuse
          // loudly rather than silently drop its entries
          val vanishedBlind = (target -- freshFps.keySet)
            .filterNot(man.fps.contains)
          if (drifted.nonEmpty || vanished.nonEmpty ||
              vanishedBlind.nonEmpty)
            throw new IllegalStateException(
              s"compactDvs at $dir: rewritten bucket(s) " +
                (drifted ++ vanished ++ vanishedBlind).toSeq.sorted
                  .mkString(", ") +
                " do not re-attest their manifest fingerprints" +
                (if (vanishedBlind.nonEmpty)
                   s" (${vanishedBlind.toSeq.sorted.mkString(", ")}: " +
                     "unattested AND fully tombstoned — cannot prove " +
                     "the tombstones covered every row)"
                 else "") +
                " — the table is corrupt (run fsckDeep); nothing was " +
                "committed")
        }
        val ec = commitEpoch(spark, dir, cur, man, Some(folded),
          replaces = target, gate = Some(attests),
          beforeCommit = beforeCommit,
          change = m => m.copy(dvs = keepDvs,
            fps = m.fps.map { case (b, fp) =>
              b -> (if (target(b)) man.fps.getOrElse(b, fp) else fp) }))
        DvCompactStats(ec.version, target.size.toLong, doomed.size.toLong,
          ec.fresh.size.toLong, doomed.flatMap(man.dvf.get).sum)
      }
    }

  final case class MaintenanceAdvice(action: String,
    buckets: Seq[String], metric: Double, threshold: Double,
    reason: String)

  /** Threshold-driven MAINTENANCE ADVISOR — the health signals
    * `merge_table_detail` exposes, turned into the exact plan a
    * maintainer would run (Delta's auto-compaction / Iceberg's
    * maintenance procedures, declared per table). Thresholds ride
    * table properties so each table carries its own policy:
    *
    *  - `graft.maintenance.maxDvRatio` (default 0.10): live
    *    tombstones / live rows; over it, advise [[compactDvs]] on
    *    exactly the TOMBSTONED buckets (the MOR read-tax recovery).
    *  - `graft.maintenance.maxFilesPerBucket` (default 4): a bucket
    *    fragmented across more than this many files spanning >1 epoch
    *    advises [[compactDvs]] on exactly those buckets.
    *  - `graft.maintenance.minBloomCoverage` (default 1.0, active
    *    only when `graft.bloom.columns` is set): files-with-bloom /
    *    files below it advises a scoped [[optimize]] of the
    *    UNCOVERED buckets (rewriting attaches the blooms), sorted by
    *    the declared layout (`graft.layout.sort`) or the key.
    *
    * Pure READ — O(manifest) driver work, no data touched; returns
    * the advice list ([[maintain]] executes it, and
    * `graft.maintenance.auto=true` makes [[graft.streaming
    * .MergeStream]] run it after every micro-batch). An advice's
    * bucket list is exact, so the executed plan is O(advised
    * buckets), never a table rewrite — the 100 TB discipline every
    * maintenance verb here keeps. */
  def maintenanceAdvice(spark: SparkSession, dir: String)
      : Seq[MaintenanceAdvice] = {
    val (cur, man) = snapshot(spark, dir)
    val p = man.props
    def prop(k: String, dflt: Double): Double =
      p.get(k).map(_.toDouble).getOrElse(dflt)
    val byBucket = man.entries.groupBy(bucketOfEntry)
    val out = Seq.newBuilder[MaintenanceAdvice]
    // 1) tombstone ratio -> fold the dirty buckets
    val tomb = man.dvf.values.sum
    if (tomb > 0) {
      val rows = fpTotal(man.fps, byBucket.keySet).map(fpRows)
      val ratio = rows.filter(_ > 0)
        .map(r => tomb.toDouble / r).getOrElse(1.0)
      val thr = prop("graft.maintenance.maxDvRatio", 0.10)
      if (ratio > thr)
        out += MaintenanceAdvice("compact_dvs",
          byBucket.collect { case (b, es)
            if es.exists(man.dvf.contains) => b }.toSeq.sorted,
          ratio, thr,
          s"$tomb live tombstones tax every read of the dirty buckets")
    }
    // 2) per-bucket fragmentation -> fold the fragmented buckets
    // (minus any already advised by the tombstone rule: one fold per
    // bucket per round)
    val advised = out.result().flatMap(_.buckets).toSet
    val maxFiles = prop("graft.maintenance.maxFilesPerBucket", 4.0)
    val fragmented = byBucket.collect {
      case (b, es) if !advised(b) && es.size > maxFiles &&
        es.map(e => e.take(e.indexOf('/'))).distinct.size > 1 => b
    }.toSeq.sorted
    if (fragmented.nonEmpty)
      out += MaintenanceAdvice("compact_dvs", fragmented,
        byBucket(fragmented.head).size.toDouble, maxFiles,
        s"${fragmented.size} bucket(s) fragmented past " +
          s"${maxFiles.toInt} files")
    // 3) bloom coverage -> rewrite (scoped optimize) uncovered buckets
    if (p.contains("graft.bloom.columns") && man.entries.nonEmpty) {
      val covered = man.bls.keySet
      val cov = man.entries.count(covered) .toDouble / man.entries.size
      val thr = prop("graft.maintenance.minBloomCoverage", 1.0)
      if (cov < thr) {
        val uncovered = man.entries.filterNot(covered)
          .map(bucketOfEntry).distinct.sorted
        out += MaintenanceAdvice("optimize", uncovered, cov, thr,
          "files written before the bloom declaration skip nothing " +
            "at plan time")
      }
    }
    out.result()
  }

  /** Execute [[maintenanceAdvice]]'s plan verbatim: each compact_dvs
    * advice folds exactly its buckets; each optimize advice rewrites
    * exactly its buckets under the declared layout sort (or the key).
    * Returns (advice, committed version) pairs — empty when the table
    * is healthy. */
  def maintain(spark: SparkSession, dir: String)
      : Seq[(MaintenanceAdvice, Long)] =
    maintenanceAdvice(spark, dir).map { a =>
      a.action match {
        case "compact_dvs" =>
          val mf = properties(spark, dir)
            .get("graft.maintenance.maxFilesPerBucket")
            .map(_.toDouble.toInt).getOrElse(4)
          a -> compactDvs(spark, dir, maxFilesPerBucket = mf,
            buckets = Some(a.buckets)).version
        case "optimize" =>
          val props = properties(spark, dir)
          val sortCol = props.getOrElse("graft.layout.sort",
            keyMeta(spark, dir, None))
          a -> optimize(spark, dir, sortCol,
            maxRecordsPerFile =
              props.get("graft.layout.stripe").map(_.toLong),
            buckets = Some(a.buckets)).version
        case other => sys.error(s"unknown maintenance action $other")
      }
    }

  /** Drop all but the last `retainVersions` manifests and delete every
    * data file no retained manifest references — the retention job
    * that bounds snapshot history's storage cost and completes hard
    * deletes. Driver work is manifest-sized (file-name sets + an
    * O(files) name-walk); data files are never read.
    *
    * CRASH ORDERING: the expired manifests drop FIRST, then the file
    * sweep runs — a crash between the two leaves only unreferenced
    * files, which [[fsck]] classifies as benign orphans and the next
    * vacuum resweeps. The reverse order would leave still-listed
    * versions whose files are gone (fsck's `missing`, the alarm-worthy
    * corruption class) from a mere retention-job crash. Lost-race /
    * crashed-commit manifest temps for versions at or below the current
    * committed one are swept too (a temp ABOVE it may be an in-flight
    * commit and is left alone).
    *
    * IN-FLIGHT WRITER SAFETY: an unreferenced data file is deleted
    * only once OLDER than `minFileAgeMs` — a concurrent committer's
    * just-written attempt files are "unreferenced" until its manifest
    * promotes, and a graceless sweep in that window would delete them
    * and let the commit land referencing missing files (exactly the
    * corruption class [[fsck]] alarms on). The default grace dwarfs
    * any epoch-write-to-promote window; crashed attempts age into the
    * next sweep (the Delta/Iceberg deleted-file-retention discipline).
    * Files referenced by EXPIRED manifests carry no such risk — they
    * were committed long ago — but take the same guard harmlessly.
    * Pass 0 only where single-writer execution is certain (the
    * lifecycle instruments do, and say so). */
  val DefaultVacuumGraceMs: Long = 10L * 60 * 1000

  def vacuum(spark: SparkSession, dir: String,
      retainVersions: Int = 1,
      minFileAgeMs: Long = DefaultVacuumGraceMs): VacuumStats =
    vacuumWithHook(spark, dir, retainVersions, () => (), minFileAgeMs)

  /** [[vacuum]] with a spec-only injection point fired between the
    * manifest drop and the file sweep — the crash window whose ordering
    * the Scaladoc promises; MergeTableSpec kills there and proves the
    * aftermath is benign orphans, never missing files. */
  private[graft] def vacuumWithHook(spark: SparkSession, dir: String,
      retainVersions: Int, afterManifestDrop: () => Unit,
      minFileAgeMs: Long = DefaultVacuumGraceMs,
      keepFrom: Option[Long] = None): VacuumStats = {
    require(retainVersions >= 1, "must retain at least the current version")
    val sweepBefore = System.currentTimeMillis() - minFileAgeMs
    val fs = hadoopFs(spark, dir)
    val vs = versions(spark, dir)
    // tag-pinned versions are retained past the suffix window (and
    // with them their files): a pin means "hold this snapshot" — the
    // Iceberg ref-retention contract, without which a routine vacuum
    // would silently break every reproducibility pin older than the
    // retention horizon
    val pinned = tags(spark, dir).values.toSet
    // `keepFrom` (time-based retention) keeps every version AT OR
    // ABOVE the floor against THIS listing — commits racing in since
    // the floor was resolved are newer and simply retained, so the
    // time contract cannot be undercut by a count shift
    val (dropRaw, keepSuffix) = keepFrom match {
      case Some(f) => vs.partition(_ < f)
      case None => vs.splitAt(math.max(0, vs.size - retainVersions))
    }
    val drop = dropRaw.filterNot(pinned)
    val keep = dropRaw.filter(pinned) ++ keepSuffix
    val keptMans = keep.map(readManifestFull(spark, dir, _))
    val live = keptMans.flatMap(_.entries).toSet
    val liveDvs = keptMans.flatMap(_.dvs).toSet
    val cur = vs.lastOption.getOrElse(0L)
    // 1) expired manifests + stale commit temps (metadata only)
    drop.foreach(v => fs.delete(manifestPath(dir, v), false))
    // the metadata caches ride manifest immutability; expired
    // versions' entries (and legacy epochs no retained manifest
    // lists) would otherwise accumulate forever in a long-lived
    // driver that vacuums periodically
    drop.foreach(v => rawTsCache.remove((dir, v)))
    drop.foreach(v => manifestCache.remove((dir, v)))
    val keptEpochs = keptMans
      .flatMap(_.entries.map(e => e.take(e.indexOf('/')))).toSet
    epochProbeCache.removeIf(k =>
      k._1 == dir && !keptEpochs.contains(k._2))
    // stats checkpoints union facts across ALL versions ever seen;
    // once manifests expire, drop the checkpoints too so the next
    // stats read rebuilds from the retained manifests only (the
    // checkpoint is a pure cache — see fileStatsIndex) and swept
    // files' stats stop accumulating across vacuums
    if (drop.nonEmpty) dropStatsCkpts(spark, dir)
    // stale commit temps: a temp for a version AT OR BELOW the current
    // committed one lost its race or crashed — always sweep; a temp
    // ABOVE it is indistinguishable from an in-flight commit, so only
    // age disambiguates (a healthy commit promotes within seconds).
    // ONE knob governs both sweeps: the same `minFileAgeMs` that
    // protects in-flight DATA files gates the above-current temps, so
    // a deployment tuning the grace tunes all of it — and the
    // documented single-writer waiver (0) drains crashed temps
    // immediately instead of on a hidden ten-minute clock
    val md = manifestDir(dir)
    if (fs.exists(md))
      fs.listStatus(md).filter { st =>
        val n = st.getPath.getName
        n.startsWith(".v") && n.endsWith(".tmp") && {
          val v = scala.util.Try(
            n.drop(2).takeWhile(_.isDigit).toLong).toOption
          v.exists(_ <= cur) || (v.isDefined &&
            st.getModificationTime <= sweepBefore)
        }
      }.foreach(st => fs.delete(st.getPath, false))
    afterManifestDrop()
    // 2) the unreferenced-file sweep (orphaned attempts included):
    // the O(files) listing AND the deletes run on the bounded driver
    // pool — both preserve the crash ordering the Scaladoc promises
    // (manifests dropped FIRST above; a crash mid-sweep leaves benign
    // orphans for the next vacuum, never a referenced file missing)
    val doomed = walkDataFiles(fs, dir).collect {
      case (rel, mtime)
          if !live.contains(rel) && mtime <= sweepBefore => rel
    }
    // cached scan relations may reference just-deleted files; sweep
    // the whole table's entries (a vacuum is rare next to the reads)
    if (doomed.nonEmpty) invalidateTableCaches(dir)
    parMeta(doomed)(rel =>
      fs.delete(new Path(s"$dir/data/$rel"), false)): Unit
    // deletion-vector files sweep under the same contract: referenced
    // by any retained manifest → kept; else (expired histories,
    // crashed MOR attempts, fully-purged tables) aged files drop —
    // after the manifests, preserving the crash ordering
    val doomedDvs = walkDvFiles(fs, dir).collect {
      case (rel, mtime)
          if !liveDvs.contains(rel) && mtime <= sweepBefore => rel
    }
    parMeta(doomedDvs)(rel =>
      fs.delete(new Path(s"$dir/$rel"), false)): Unit
    VacuumStats((doomed.size + doomedDvs.size).toLong,
      (live.size + liveDvs.size).toLong, drop.size.toLong,
      keep.size.toLong)
  }

  /** Buckets whose CONTENT differs between two versions — the set a
    * version diff must scan; every other bucket is skipped unread.
    * Compared by manifest fingerprint where both versions carry one
    * (current writer), falling back per bucket to file-list identity
    * for legacy manifests (conservative: a legacy layout-only rewrite
    * scans, never skips, a changed bucket). When the two versions
    * disagree on bucket WIDTH (the window straddles a [[rebucket]]),
    * per-bucket identity is meaningless — instead the TABLE-LEVEL
    * fingerprint totals are compared (sums are associative: the total
    * is the same number whichever width grouped it), and a match
    * prunes the whole table; width change + total mismatch means real
    * row changes rode the window, and every bucket on both sides is
    * returned (the keyed full diff). Same-width windows never use the
    * total: the per-bucket compare is strictly finer. Factored for
    * the spec to pin the pruning itself. */
  private[graft] def changedBuckets(spark: SparkSession, dir: String,
      fromV: Long, toV: Long): Seq[String] = {
    val mf = readManifestFull(spark, dir, fromV)
    val mt = readManifestFull(spark, dir, toV)
    val byB = (m: Seq[String]) => m.groupBy(bucketOfEntry).view
      .mapValues(_.sorted).toMap
    val bf = byB(mf.entries)
    val bt = byB(mt.entries)
    if (mf.hexDigits != mt.hexDigits &&
        (for (a <- fpTotal(mf.fps, bf.keySet);
              b <- fpTotal(mt.fps, bt.keySet)) yield fpAgrees(a, b))
          .contains(true))
      return Seq.empty
    // a window straddling a TYPE-WIDENING declaration crosses a hash
    // regime (fingerprints canonicalize to the declared types, which
    // differ across the boundary) — per-bucket fp comparison would
    // flag EVERY bucket, so fall back to entry-list + tombstone
    // identity: a widen is metadata-only (same files, same DVs), so
    // the fallback keeps it CDC-quiet while still catching real
    // writes (new epoch files) and MOR deletes (dvf deltas) that rode
    // the same window
    val regimeCrossed = widesOf(mf.props) != widesOf(mt.props)
    def dvfB(m: ManifestData, b: String): Map[String, Long] =
      m.dvf.filter(e => bucketOfEntry(e._1) == b)
    (bf.keySet ++ bt.keySet).filter { b =>
      (mf.fps.get(b), mt.fps.get(b)) match {
        case (Some(a), Some(c)) if !regimeCrossed => !fpAgrees(a, c)
        case _ => bf.get(b) != bt.get(b) || dvfB(mf, b) != dvfB(mt, b)
      }
    }.toSeq.sorted
  }

  /** Table-level fingerprint total, rendered in the same
    * `rows:h1[:h2]` shape the per-bucket fingerprints use (so
    * [[fpAgrees]]' prefix comparison applies): component-wise sums
    * over every bucket's fingerprint — the second channel is present
    * only when EVERY bucket carries it (a mixed-format history sums
    * what both formats share). None unless every bucket holding files
    * carries a fingerprint at all (a legacy bucket with none makes the
    * total unattestable, so the caller must not prune on it). */
  private def fpTotal(fps: Map[String, String],
      buckets: Set[String]): Option[String] =
    if (!buckets.subsetOf(fps.keySet)) None
    else {
      val parts = buckets.toSeq.map(b => fps(b).split(":").map(BigInt(_)))
      val width = if (parts.isEmpty) 3 else parts.map(_.length).min
      val sums = (0 until width).map(i => parts.map(_(i)).sum)
      Some(sums.mkString(":"))
    }

  /** Σ rows component of a rendered [[fpTotal]]. */
  private def fpRows(total: String): Long =
    total.split(":")(0).toLong

  /** CHANGEFEED (CDC OUT) — the row-level diff between two committed
    * versions, classified insert/update/delete, WITHOUT scanning the
    * table: the two manifests carry a CONTENT FINGERPRINT per bucket
    * (row count + order-independent payload hash, written at commit
    * time), so any bucket whose fingerprint is IDENTICAL in both
    * versions provably holds identical rows and is skipped before a
    * single byte is read — the diff scans only the buckets some
    * intervening commit actually CHANGED. Crucially that makes
    * layout-only maintenance FREE to diff across: [[optimize]] and
    * [[optimizeZOrder]] rewrite every file but move no row, their
    * fingerprints compare equal, and a changefeed window straddling
    * them contributes ZERO changed buckets instead of a table-sized
    * full-outer join (the manifest-metadata trick Iceberg's
    * incremental reads play, extended from file identity to content
    * identity). Changed buckets join full-outer on the key: only-new →
    * insert, only-old → delete, both-but-payload-differs → update;
    * payload-identical rows inside a rewritten bucket (the batch's
    * collateral neighbors) drop out. Cost: O(changed buckets' rows) +
    * two manifest reads — a changefeed over a quiet 100 TB table is
    * near-free regardless of its size, even the night after OPTIMIZE.
    *
    * [[rebucket]] invalidates bucket IDENTITY (every key re-hashes),
    * but not content identity: the per-bucket fingerprints are
    * ADDITIVE (count sum + hash sum), so their TABLE-LEVEL total is
    * invariant under re-hashing rows into different buckets. A window
    * whose endpoints disagree on width but agree on the total is a
    * contents-invariant migration and diffs to ZERO buckets — a
    * rebucket-only window is as CDC-free as an OPTIMIZE-only one.
    * Only a window containing BOTH a width change and real row
    * changes degrades to the keyed full diff — still row-correct
    * (the rebucket-boundary spec pins the classifications), but
    * O(table); [[graft.ingest.ChangefeedRunner]] warns loudly when a
    * publish window pays that. */
  def changes(spark: SparkSession, dir: String, fromV: Long,
      toV: Long): DataFrame = {
    val key = keyMeta(spark, dir, None)
    // the feed speaks the DESTINATION version's logical names: a
    // renamed column is the SAME column (physical identity — the diff
    // joins and compares physically, so a rename-only window yields
    // no rows), and a dropped column stops appearing
    val manFrom = readManifestFull(spark, dir, fromV)
    val manTo = readManifestFull(spark, dir, toV)
    val viewCols = manTo.cols
    val changed = changedBuckets(spark, dir, fromV, toV).toSet
    // prune the FILE LISTS, not a partition filter over a full-table
    // scan: a scan of all files pays an O(files) mergeSchema footer
    // job per side even when the filter then prunes every one — at
    // 100 TB that is a table-metadata-sized job just to discover a
    // layout-only window was quiet. Listing only the changed buckets'
    // files keeps the whole diff O(changed buckets) from the first
    // byte, and the all-unchanged case below never touches data at
    // all.
    def sideEntries(m: ManifestData): Seq[String] =
      m.entries.filter(e => changed.contains(bucketOfEntry(e)))
    val ff = sideEntries(manFrom)
    val tf = sideEntries(manTo)
    if (ff.isEmpty && tf.isEmpty) {
      // quiet window (every bucket fingerprint-identical — e.g. a
      // changefeed run straddling OPTIMIZE): zero rows, and the cost
      // is two manifest reads plus ONE footer for the schema. The
      // schema probe is the newest version's first live file, so the
      // empty batch carries the current payload columns a chained
      // consumer selects on (representative, not the mergeSchema
      // union — a zero-row batch has no values to lose), under the
      // destination's declared widenings and names, as a non-empty
      // batch reads them.
      import org.apache.spark.sql.types.{StructField, StructType,
        StringType, LongType}
      val probe = manTo.entries.headOption.orElse(manFrom.entries.headOption)
      val fields = probe match {
        case Some(e) => applyWidesTo(StructType(
            spark.read.parquet(s"$dir/data/$e").schema.fields
              .filterNot(f => f.name == "v" || f.name == "bucket")),
            widesOf(manTo.props)).fields
          .flatMap(f => logicalName(viewCols, f.name)
            .map(l => f.copy(name = l)))
        case None => Array(StructField(key, LongType))
      }
      val keyField = fields.find(_.name == key)
        .getOrElse(StructField(key, LongType))
      val payload = StructType(fields.filterNot(_.name == key))
      val schema = StructType(Seq(keyField,
        StructField("old_row", payload), StructField("new_row", payload),
        StructField("change", StringType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    // a side with no changed files (every changed bucket born after
    // fromV, or dropped by toV) reads the OTHER side's files for its
    // schema and contributes zero rows. Each side applies ITS OWN
    // version's tombstones (a merge-on-read delete changes the same
    // files' logical rows, so the diff must read each endpoint's DV
    // state — a DV-only window then classifies the masked rows as
    // deletes through the ordinary full-outer diff).
    def side0(m: ManifestData, es: Seq[String],
        other: Seq[String]): DataFrame = {
      val d = applyLogicalView(
        readEntries(spark, dir, m, if (es.nonEmpty) es else other)
          .drop("bucket"), viewCols)
      if (es.nonEmpty) d else d.limit(0)
    }
    val tFrom = side0(manFrom, ff, tf)
    val tTo = side0(manTo, tf, ff)
    // align both sides on the UNION of their columns (a diff may
    // straddle a schema evolution; the older side reads null for the
    // newer columns, so an evolved value registers as an update)
    val payloadCols = (tFrom.columns ++ tTo.columns).distinct
      .filter(_ != key)
    def side(t: DataFrame, tag: String): DataFrame = {
      val aligned = payloadCols.foldLeft(t)((d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null)))
      aligned.select(col(key),
        struct(payloadCols.map(col): _*).as(tag + "_row"))
    }
    side(tFrom, "old").join(side(tTo, "new"), Seq(key), "full_outer")
      .withColumn("change",
        when(col("old_row").isNull, "insert")
          .when(col("new_row").isNull, "delete")
          .when(!(col("old_row") <=> col("new_row")), "update"))
      .filter(col("change").isNotNull)
  }

  // ---- the q140–q143 lifecycle over orders -------------------------
  // keys are o_orderkey; payload is (o_custkey, o_orderstatus) plus the
  // price in integer CENTS (fixed-point at creation, so updated rows
  // are exact BIGINT arithmetic the oracle restates, never re-rounded
  // doubles). Update batches are SMALL on purpose (~1/101 and ~1/202 of
  // keys): copy-on-write's point is that a small change stream touches
  // a small set of buckets, and q141 prices exactly that.

  private def baseRows(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").select(
      col("o_orderkey").as("key"), col("o_custkey").as("cust"),
      col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))

  /** Batch 1: absolute-row updates for key % 101 == 0 (cents + 100)
    * and inserts keyed -(key+1) for key % 103 == 0 (status 'N') —
    * the +1 keeps insert keys strictly negative and disjoint from every
    * existing key: the fixture CONTAINS o_orderkey = 0, and a bare -key
    * would collide an insert with its own update row, breaking the
    * one-row-per-key batch contract on [[upsert]] (found by the oracle
    * gate, which counted the key-0 pair the collision destroyed). */
  private def batch1(base: DataFrame): DataFrame =
    base.filter(col("key") % 101 === 0)
      .withColumn("cents", col("cents") + 100)
      .unionByName(base.filter(col("key") % 103 === 0)
        .select((-col("key") - 1).as("key"), col("cust"),
          lit("N").as("status"), col("cents")))

  /** Batch 2: a subset of batch 1's keys (key % 202 == 0) moves again —
    * absolute value base+300, proving LATEST-WINS sequencing across
    * upserts, not accumulation. */
  private def batch2(base: DataFrame): DataFrame =
    base.filter(col("key") % 202 === 0)
      .withColumn("cents", col("cents") + 300)

  private def runLifecycleStats(s: SparkSession, dir: String,
      tag: String): (String, CowStats, CowStats) =
    graft.core.Timing.build {
      val out = java.nio.file.Files.createTempDirectory(s"graft-$tag-cow")
        .resolve("table").toString
      val base = baseRows(s, dir).localCheckpoint(true)
      create(base, out, "key")
      val s1 = upsert(s, out, batch1(base))
      val s2 = upsert(s, out, batch2(base))
      (out, s1, s2)
    }

  /** Per-JVM memo of the three-version lifecycle, keyed by fixture dir
    * — the IvfPqIndex.steadyIndex discipline: the READ-ONLY consumers
    * (q140 full state, q141 stats row, q142 snapshot signatures) share
    * one build (Bench's warmup pays it; their measured passes then
    * time reads, which is those queries' subject), while every
    * MUTATING lifecycle keeps paying its own fresh build — q143
    * vacuums, q144 deletes, q146 optimizes, q147 applies different
    * batches, and a shared memo must never see a mutation. */
  private val lifecycleCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, CowStats, CowStats)]()
  private def memoLifecycle(s: SparkSession, dir: String)
      : (String, CowStats, CowStats) =
    lifecycleCache.computeIfAbsent(dir,
      _ => runLifecycleStats(s, dir, "memo"))

  /** The MUTATING instruments (q143 vacuum, q144 changefeed+delete,
    * q146 optimize) rebuild their own lifecycle per invocation rather
    * than forking the memo by file copy: MEASURED at sf0.1, a
    * driver-side copy of the ~800 small files is 2-4 s SLOWER than the
    * 32-thread rebuild (8.5 -> 11.9 s on q144) — the same
    * names-vs-locations lesson as the q92 listing fix: per-file
    * driver round trips lose to parallel compute at small-file scale.
    * q147 builds fresh regardless: its batches differ. */
  private def runLifecycle(s: SparkSession, dir: String,
      tag: String): String = runLifecycleStats(s, dir, tag)._1

  /** The lifecycle's final-state oracle, shared verbatim by q140 (the
    * plain lifecycle) and q146 (lifecycle + OPTIMIZE) — the
    * rewrite-proven-result-identical discipline of q92/q124: optimize
    * must change layout, never content. */
  private val lifecycleFinCte: String =
    s"""base AS (
       |  SELECT o_orderkey AS key, o_custkey AS cust,
       |         o_orderstatus AS status,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |fin AS (
       |  SELECT key, cust, status,
       |         CASE WHEN key % 202 = 0 THEN cents + 300
       |              WHEN key % 101 = 0 THEN cents + 100
       |              ELSE cents END AS cents
       |  FROM base
       |  UNION ALL
       |  SELECT -key - 1, cust, 'N', cents FROM base WHERE key % 103 = 0)""".stripMargin

  /** The final-state oracle at bucket width `hex` — q140/q146 gate at
    * the default width, q150/q151 after the width-1 migration. */
  private def lifecycleStateSql(hex: Int): String =
    s"""WITH $lifecycleFinCte
       |SELECT key, cust, status, cents,
       |       ${bucketSql("key", hex)} AS bucket
       |FROM fin ORDER BY key""".stripMargin

  private def lifecycleState(s: SparkSession, out: String) =
    readTable(s, out)
      .select("key", "cust", "status", "cents", "bucket")
      .orderBy("key")

  /** q140 — the COW upsert LIFECYCLE, gated on the full final table
    * state: create from orders, apply two overlapping absolute-row
    * batches, dump every row (key, cust, status, cents, bucket). The
    * oracle rebuilds the final state straight from orders with CASE
    * arithmetic + the insert union + the md5 bucket restatement —
    * latest-wins sequencing, insert placement, and bucket assignment
    * are all hash-gated row for row. */
  private val q140CowUpsert = QueryDef(
    (s, dir) => lifecycleState(s, memoLifecycle(s, dir)._1),
    lifecycleStateSql(HEX_DIGITS))

  /** q146 — OPTIMIZE invariance: the lifecycle table rewritten with
    * rows sorted by cents inside every bucket (row-group min/max stats
    * then prune cents-range scans within the hash layout), held to the
    * IDENTICAL oracle as q140's unoptimized state — layout changed,
    * content provably not; the spec checks the physical sortedness and
    * that vacuum reclaims the pre-optimize files. */
  private val q146OptimizeInvariance = QueryDef(
    (s, dir) => {
      val out = runLifecycle(s, dir, "q146")
      optimize(s, out, "cents")
      lifecycleState(s, out)
    },
    lifecycleStateSql(HEX_DIGITS))

  /** q141 — WRITE-AMPLIFICATION acceptance row for the same lifecycle:
    * buckets touched by each batch (= files written, one file per
    * bucket — MergeTableSpec asserts the stats agree and that untouched
    * files are untouched on disk), matched/inserted row counts, and the
    * final row count. The oracle re-derives every number from orders
    * with the same md5 arithmetic: copy-on-write's contract —
    * amplification ∝ DISTINCT BUCKETS OF THE BATCH, not table size —
    * is hash-gated, not asserted. */
  private val q141CowAmplification = QueryDef(
    (s, dir) => {
      val (out, s1, s2) = memoLifecycle(s, dir)
      val finalRows = readTable(s, out).count()
      import s.implicits._
      Seq((s1.bucketsRewritten, s1.rowsMatched, s1.rowsInserted,
        s2.bucketsRewritten, s2.rowsMatched, s2.rowsInserted, finalRows))
        .toDF("buckets_b1", "updated_b1", "inserted_b1",
          "buckets_b2", "updated_b2", "inserted_b2", "rows_final")
    },
    s"""WITH base AS (SELECT o_orderkey AS key FROM orders),
       |b1 AS (SELECT key FROM base WHERE key % 101 = 0
       |       UNION ALL
       |       SELECT -key - 1 FROM base WHERE key % 103 = 0),
       |b2 AS (SELECT key FROM base WHERE key % 202 = 0)
       |SELECT
       |  (SELECT CAST(count(DISTINCT ${bucketSql("key")}) AS BIGINT)
       |     FROM b1) AS buckets_b1,
       |  (SELECT CAST(count(*) AS BIGINT) FROM base
       |     WHERE key % 101 = 0) AS updated_b1,
       |  (SELECT CAST(count(*) AS BIGINT) FROM base
       |     WHERE key % 103 = 0) AS inserted_b1,
       |  (SELECT CAST(count(DISTINCT ${bucketSql("key")}) AS BIGINT)
       |     FROM b2) AS buckets_b2,
       |  (SELECT CAST(count(*) AS BIGINT) FROM b2) AS updated_b2,
       |  CAST(0 AS BIGINT) AS inserted_b2,
       |  (SELECT CAST(count(*) AS BIGINT) FROM base)
       |    + (SELECT CAST(count(*) AS BIGINT) FROM base
       |         WHERE key % 103 = 0) AS rows_final""")

  /** q142 — TIME TRAVEL: after the same lifecycle, read ALL THREE
    * versions and emit one exact signature row per version (rows, sum
    * of cents, insert-key count) — the oracle recomputes each epoch's
    * state arithmetic straight from orders, so snapshot isolation is
    * hash-gated: version 1 must still show the pre-update sums AFTER
    * two later commits, version 2 must show batch 1 applied but not
    * batch 2. The read cost of any version is its manifest's file
    * list — time travel is free at write time (old files simply
    * persist until vacuum). */
  private val q142TimeTravel = QueryDef(
    (s, dir) => {
      val out = memoLifecycle(s, dir)._1
      val sigs = versions(s, out).map { v =>
        readTable(s, out, Some(v))
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"),
            sum(when(col("key") < 0, 1L).otherwise(0L)).as("n_inserted"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_cents"),
            col("n_inserted"))
      }
      sigs.reduce(_ unionByName _).orderBy("version")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |             CAST(sum(cents) AS BIGINT) AS c FROM base),
       |u1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base
       |       WHERE key % 101 = 0),
       |i1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |              CAST(coalesce(sum(cents), 0) AS BIGINT) AS c
       |       FROM base WHERE key % 103 = 0),
       |u2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base
       |       WHERE key % 202 = 0)
       |SELECT CAST(1 AS BIGINT) AS version, n.n AS n_rows,
       |       n.c AS sum_cents, CAST(0 AS BIGINT) AS n_inserted
       |FROM n
       |UNION ALL
       |SELECT 2, n.n + i1.n, n.c + u1.n * 100 + i1.c, i1.n
       |FROM n, u1, i1
       |UNION ALL
       |SELECT 3, n.n + i1.n, n.c + u1.n * 100 + u2.n * 200 + i1.c, i1.n
       |FROM n, u1, i1, u2
       |ORDER BY version""")

  /** q143 — RETENTION (vacuum) acceptance row: run the lifecycle, keep
    * only the current version, and price what retention costs and
    * frees: files live before/after, files deleted, versions dropped,
    * and the surviving state's row count. The oracle re-derives the
    * file arithmetic from bucket sets alone — live = |B0 ∪ B1| (B2's
    * buckets replace their B1 files, which vacuum deletes along with
    * B1∩B0's originals): deleted = |B0 ∩ B1| + |B2|, total before =
    * |B0| + |B1| + |B2| — pinning that snapshot history's storage cost
    * is bucket-counting, never data-sized. */
  private val q143VacuumCost = QueryDef(
    (s, dir) => {
      val out = runLifecycle(s, dir, "q143")
      val before = versions(s, out).map(v =>
        readManifest(s, out, v)).map(_.size.toLong)
      // the lifecycle instrument is single-writer by construction, so
      // the in-flight grace is waived for an immediate priced sweep
      val vs = vacuum(s, out, retainVersions = 1, minFileAgeMs = 0)
      val after = readTable(s, out).count()
      import s.implicits._
      Seq((before.head, vs.filesDeleted, vs.filesLive,
        vs.versionsDropped, vs.versionsLive, after))
        .toDF("files_v1", "files_deleted", "files_live",
          "versions_dropped", "versions_live", "rows_current")
    },
    s"""WITH base AS (SELECT o_orderkey AS key FROM orders),
       |b0 AS (SELECT DISTINCT ${bucketSql("key")} AS b FROM base),
       |b1 AS (SELECT DISTINCT ${bucketSql("key")} AS b FROM (
       |         SELECT key FROM base WHERE key % 101 = 0
       |         UNION ALL
       |         SELECT -key - 1 FROM base WHERE key % 103 = 0)),
       |b2 AS (SELECT DISTINCT ${bucketSql("key")} AS b FROM base
       |       WHERE key % 202 = 0)
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM b0) AS files_v1,
       |  (SELECT CAST(count(*) AS BIGINT) FROM b0 WHERE b IN
       |     (SELECT b FROM b1))
       |    + (SELECT CAST(count(*) AS BIGINT) FROM b2) AS files_deleted,
       |  (SELECT CAST(count(*) AS BIGINT) FROM
       |     (SELECT b FROM b0 UNION SELECT b FROM b1)) AS files_live,
       |  CAST(2 AS BIGINT) AS versions_dropped,
       |  CAST(1 AS BIGINT) AS versions_live,
       |  (SELECT CAST(count(*) AS BIGINT) FROM base)
       |    + (SELECT CAST(count(*) AS BIGINT) FROM base
       |         WHERE key % 103 = 0) AS rows_current""")

  /** q144 — CHANGEFEED acceptance: extend the lifecycle with a hard
    * delete (key % 307), then read the row-level diff of v1 → v4
    * through [[changes]] and hash-gate every classified row: inserts
    * carry (null, new cents), updates carry (v1 cents, final cents —
    * +300 where batch 2 moved the key again), deletes carry the v1
    * value even when an intervening batch had updated it (the diff is
    * between SNAPSHOTS, not a replay of intermediate commits — a key
    * both updated and deleted shows once, as a delete). The oracle
    * rebuilds the whole feed from orders with modulus arithmetic. */
  private val q144Changefeed = QueryDef(
    (s, dir) => {
      val out = runLifecycle(s, dir, "q144")
      val base = baseRows(s, dir)
      deleteKeys(s, out, base.filter(col("key") % 307 === 0).select("key"))
      changes(s, out, 1L, 4L)
        .select(col("key"), col("change"),
          col("old_row.cents").as("old_cents"),
          col("new_row.cents").as("new_cents"))
        .orderBy("key")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders)
       |SELECT key, 'update' AS change, cents AS old_cents,
       |       cents + CASE WHEN key % 202 = 0 THEN 300 ELSE 100 END
       |         AS new_cents
       |FROM base WHERE key % 101 = 0 AND key % 307 <> 0
       |UNION ALL
       |SELECT -key - 1, 'insert', CAST(NULL AS BIGINT), cents
       |FROM base WHERE key % 103 = 0
       |UNION ALL
       |SELECT key, 'delete', cents, CAST(NULL AS BIGINT)
       |FROM base WHERE key % 307 = 0
       |ORDER BY key""")

  /** q148 — FSCK + sweep acceptance row: run the lifecycle, PLANT a
    * crashed COMMIT-RACE LOSER's attempt (a data file under a
    * writer-unique `v=<N>-<tag>` attempt dir that no manifest ever
    * committed — exactly what a loser dying before its eager cleanup,
    * or any writer dying before its manifest promotion, leaves
    * behind), and price the audit: fsck sees every manifest entry
    * present (missing = 0), exactly one orphan, and after a retain-1
    * vacuum the orphan is swept WITH the expired versions
    * (files_deleted = |B0 ∩ B1| + |B2| + 1) while the live state still
    * reads in full. The oracle re-derives the whole ledger from md5
    * bucket sets + the planted literal — the invisible-garbage
    * contract of the multi-writer protocol and its cleanup,
    * hash-gated. */
  private val q148TableFsck = QueryDef(
    (s, dir) => {
      val out = runLifecycle(s, dir, "q148")
      val fs = hadoopFs(s, out)
      val crashed = new Path(
        s"$out/data/v=4-0x0/bucket=00/part-crashed.c000.snappy.parquet")
      fs.mkdirs(crashed.getParent)
      val o = fs.create(crashed, true)
      try o.write(Array.fill[Byte](64)(0)) finally o.close()
      val before = fsck(s, out)
      val vac = vacuum(s, out, retainVersions = 1, minFileAgeMs = 0)
      val after = fsck(s, out)
      val rows = readTable(s, out).count()
      import s.implicits._
      Seq((before.referenced, before.orphans, before.missing,
        vac.filesDeleted, after.referenced, after.orphans, after.missing,
        rows))
        .toDF("referenced", "orphans", "missing", "files_deleted",
          "live_files", "orphans_after", "missing_after", "rows_current")
    },
    s"""WITH base AS (SELECT o_orderkey AS key FROM orders),
       |b0 AS (SELECT DISTINCT ${bucketSql("key")} AS b FROM base),
       |b1 AS (SELECT DISTINCT ${bucketSql("key")} AS b FROM (
       |         SELECT key FROM base WHERE key % 101 = 0
       |         UNION ALL
       |         SELECT -key - 1 FROM base WHERE key % 103 = 0)),
       |b2 AS (SELECT DISTINCT ${bucketSql("key")} AS b FROM base
       |       WHERE key % 202 = 0)
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM b0)
       |    + (SELECT CAST(count(*) AS BIGINT) FROM b1)
       |    + (SELECT CAST(count(*) AS BIGINT) FROM b2) AS referenced,
       |  CAST(1 AS BIGINT) AS orphans,
       |  CAST(0 AS BIGINT) AS missing,
       |  (SELECT CAST(count(*) AS BIGINT) FROM b0 WHERE b IN
       |     (SELECT b FROM b1))
       |    + (SELECT CAST(count(*) AS BIGINT) FROM b2)
       |    + 1 AS files_deleted,
       |  (SELECT CAST(count(*) AS BIGINT) FROM
       |     (SELECT b FROM b0 UNION SELECT b FROM b1)) AS live_files,
       |  CAST(0 AS BIGINT) AS orphans_after,
       |  CAST(0 AS BIGINT) AS missing_after,
       |  (SELECT CAST(count(*) AS BIGINT) FROM base)
       |    + (SELECT CAST(count(*) AS BIGINT) FROM base
       |         WHERE key % 103 = 0) AS rows_current""")

  /** q150 — REBUCKET migration acceptance: run the lifecycle at the
    * default 256-bucket width, migrate to 16 buckets ([[rebucket]] to
    * one hex digit), and gate the ENTIRE final state with the bucket
    * column restated at the NEW width — the q146 contents-invariance
    * discipline applied to the migration (a key lost, duplicated, or
    * mis-hashed by the rewrite fails row-for-row). The migration PRICE
    * rides every row as constants the oracle re-derives: filesWritten
    * = distinct new buckets (the full-rewrite cost the Scaladoc
    * promises is "priced as such, never silent") and the recorded new
    * width. */
  private val q150RebucketMigration = QueryDef(
    (s, dir) => {
      val out = runLifecycle(s, dir, "q150")
      val st = rebucket(s, out, 1)
      lifecycleState(s, out)
        .withColumn("files_written", lit(st.filesWritten))
        .withColumn("hex_digits", lit(bucketWidth(s, out).toLong))
    },
    s"""WITH $lifecycleFinCte
       |SELECT key, cust, status, cents,
       |       ${bucketSql("key", 1)} AS bucket,
       |       (SELECT CAST(count(DISTINCT ${bucketSql("key", 1)})
       |          AS BIGINT) FROM fin) AS files_written,
       |       CAST(1 AS BIGINT) AS hex_digits
       |FROM fin ORDER BY key""")

  /** q151 — Z-ORDER OPTIMIZE acceptance: lifecycle → [[rebucket]] to
    * 16 buckets (so each bucket file holds enough rows for several row
    * groups at sf scale) → [[optimizeZOrder]] on (cust, cents) with a
    * small row-group cap (the knob that recreates the multi-row-group
    * file shape a 100 TB bucket has naturally) → the FULL final state
    * under the q150 oracle (contents invariance through BOTH rewrites,
    * the q146 discipline), plus the REAL-FOOTER pruning row as
    * constants: rows_box (exact, oracle-derived — the box spans the
    * center 1/16 of each value dimension) and two gates the oracle
    * pins at 1 — rg_multi (the physical files do hold ≥ 2 row groups
    * each, so the instrument measured something) and rg_box_pruned
    * (a min/max-stats reader opens at most HALF the row groups for
    * the box — real footers, real skipping, the number a reader
    * pays). MergeTableSpec holds the same machinery to strict
    * physical assertions; this row keeps it honest per-round at the
    * oracle gate. */
  private val q151ZorderOptimize = QueryDef(
    (s, dir) => {
      val out = runLifecycle(s, dir, "q151")
      rebucket(s, out, 1)
      val st = optimizeZOrder(s, out, "cust", "cents",
        blockBytes = Some(1024))
      val cur = versions(s, out).last
      val files = readManifest(s, out, cur).map(e => s"$out/data/$e")
      val blocks = Layout.footerBlockStats(s, files, "cust", "cents")
        .localCheckpoint(true)
      val t = readTable(s, out).localCheckpoint(true)
      val b = t.agg(min("cust"), max("cust"), min("cents"), max("cents"))
        .collect().head
      val (mnx, mxx, mny, mxy) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val (x1, x2) = (mnx + (mxx - mnx) * 7 / 16, mnx + (mxx - mnx) * 8 / 16)
      val (y1, y2) = (mny + (mxy - mny) * 7 / 16, mny + (mxy - mny) * 8 / 16)
      val rowsBox = t.filter(col("cust").between(x1, x2) &&
        col("cents").between(y1, y2)).count()
      val rgTotal = blocks.count()
      val rgBox = Layout.prunedRowGroups(blocks, Some((x1, x2)),
        Some((y1, y2))).count()
      lifecycleState(s, out)
        .withColumn("rows_box", lit(rowsBox))
        .withColumn("rg_multi",
          lit(if (rgTotal >= 2 * st.filesWritten) 1L else 0L))
        .withColumn("rg_box_pruned",
          lit(if (rgBox * 2 <= rgTotal) 1L else 0L))
    },
    s"""WITH $lifecycleFinCte,
       |bb AS (SELECT min(cust) AS mnx, max(cust) AS mxx,
       |              min(cents) AS mny, max(cents) AS mxy FROM fin),
       |p AS (SELECT mnx + ((mxx - mnx) * 7) // 16 AS x1,
       |             mnx + ((mxx - mnx) * 8) // 16 AS x2,
       |             mny + ((mxy - mny) * 7) // 16 AS y1,
       |             mny + ((mxy - mny) * 8) // 16 AS y2 FROM bb)
       |SELECT key, cust, status, cents,
       |       ${bucketSql("key", 1)} AS bucket,
       |       (SELECT CAST(count(*) AS BIGINT) FROM fin, p
       |        WHERE cust BETWEEN x1 AND x2
       |          AND cents BETWEEN y1 AND y2) AS rows_box,
       |       CAST(1 AS BIGINT) AS rg_multi,
       |       CAST(1 AS BIGINT) AS rg_box_pruned
       |FROM fin ORDER BY key""")

  /** Stripe size for the q164 instrument: ~947 rows per bucket at
    * sf0.01 and 16 buckets → 4 stripe files per bucket, the smallest
    * shape where file-level pruning has something real to skip. */
  private val Q164_STRIPE = 256L

  /** q164 — VALUE-PREDICATE FILE PRUNING acceptance, the q157
    * discipline applied to value predicates: lifecycle → [[rebucket]]
    * to 16 buckets → [[optimizeZOrder]] on (cust, cents) WITH
    * Z-STRIPING (the write rolls a new file every [[Q164_STRIPE]] rows
    * of the per-bucket (zval, key) total order, and the commit's
    * read-back scan writes each stripe's min/max into the manifest as
    * `#st=` lines) → a center-box predicate through the PLAIN
    * DataFrame read with [[graft.plans.StatsFilePruning]] enabled.
    * The gate pins BOTH the returned rows (full lifecycle arithmetic
    * through a pruned read) and the FILES THE PLAN SCHEDULES:
    * files_scanned must equal the oracle's re-derivation of exactly
    * which stripes overlap the box — per md5-bucket, rows ranked by
    * the q136-pinned z-curve, chunked at the stripe size, min/max per
    * chunk, overlap-counted (the q137 contiguous-rank-block model,
    * here measured against the REAL planned scan, not a model of it).
    * files_total (the stripe count) rides along so the row reads as
    * amplification. A 100 TB box query pays the overlapping stripes
    * at PLAN time — before this round, the same query scheduled every
    * file and leaned on row-group skipping alone. */
  private val q164StatsPruning = QueryDef(
    (s, dir) => {
      val out = runLifecycle(s, dir, "q164")
      rebucket(s, out, 1)
      optimizeZOrder(s, out, "cust", "cents",
        maxRecordsPerFile = Some(Q164_STRIPE))
      graft.plans.StatsFilePruning.enable(s)
      val t = readTable(s, out)
      val b = t.agg(min("cust"), max("cust"), min("cents"), max("cents"))
        .collect().head
      val (mnx, mxx, mny, mxy) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val (x1, x2) = (mnx + (mxx - mnx) * 7 / 16, mnx + (mxx - mnx) * 8 / 16)
      val (y1, y2) = (mny + (mxy - mny) * 7 / 16, mny + (mxy - mny) * 8 / 16)
      val q = readTable(s, out).filter(
        col("cust").between(x1, x2) && col("cents").between(y1, y2))
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.getOrElse(sys.error("box predicate did not plan a file scan"))
      val filesScanned = scan.selectedPartitions.totalNumberOfFiles
      val filesTotal = readManifest(s, out, versions(s, out).last)
        .size.toLong
      q.select("key", "cust", "status", "cents")
        .withColumn("files_scanned", lit(filesScanned))
        .withColumn("files_total", lit(filesTotal))
        .orderBy("key")
    },
    s"""WITH $lifecycleFinCte,
       |bb AS (SELECT min(cust) AS mnx, max(cust) AS mxx,
       |              min(cents) AS mny, max(cents) AS mxy FROM fin),
       |p AS (SELECT mnx + ((mxx - mnx) * 7) // 16 AS x1,
       |             mnx + ((mxx - mnx) * 8) // 16 AS x2,
       |             mny + ((mxy - mny) * 7) // 16 AS y1,
       |             mny + ((mxy - mny) * 8) // 16 AS y2 FROM bb),
       |g AS (SELECT fin.*, ${bucketSql("key", 1)} AS bkt,
       |             ${Layout.bucketSql("cust", "mnx", "mxx", "//")} AS xb,
       |             ${Layout.bucketSql("cents", "mny", "mxy", "//")} AS yb
       |      FROM fin, bb),
       |z AS (SELECT *, ${Layout.zExpr("xb", "yb")} AS zval FROM g),
       |f AS (SELECT *, ((row_number() OVER (PARTITION BY bkt
       |        ORDER BY zval, key)) - 1) // $Q164_STRIPE AS fid FROM z),
       |st AS (SELECT bkt, fid, min(cust) AS fminx, max(cust) AS fmaxx,
       |              min(cents) AS fminy, max(cents) AS fmaxy
       |       FROM f GROUP BY bkt, fid),
       |cnt AS (SELECT
       |    CAST(sum(CASE WHEN fminx <= x2 AND fmaxx >= x1
       |      AND fminy <= y2 AND fmaxy >= y1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS files_scanned,
       |    CAST(count(*) AS BIGINT) AS files_total
       |  FROM st, p)
       |SELECT key, cust, status, cents,
       |       (SELECT files_scanned FROM cnt) AS files_scanned,
       |       (SELECT files_total FROM cnt) AS files_total
       |FROM fin, p
       |WHERE cust BETWEEN x1 AND x2 AND cents BETWEEN y1 AND y2
       |ORDER BY key""".stripMargin)

  /** q170 — TYPED value-predicate FILE PRUNING acceptance: the q164
    * discipline extended to the column kinds the reference's own
    * declared queries actually filter on (strings, dates —
    * README.md:295-311 filters `language`, a string, and partitions by
    * date) plus decimals. One table from orders (key, pri = padded
    * priority STRING past the 16-code-point truncation length, odate
    * DATE, price DECIMAL(12,2), cents), created at 16 buckets, then
    * striped THREE times — sorted by odate, by pri, by price — and
    * after each layout the PLANNED file count of a predicate on that
    * layout's sort column is pinned to the oracle's stripe-model
    * re-derivation (per md5-bucket rank → chunk at the stripe size →
    * min/max per chunk → overlap count): a date box, a string range,
    * a decimal box. The padded string exercises the Iceberg truncated-
    * bounds path for real (min = 16-cp prefix, max = incremented
    * prefix) while staying model-exact (the five priorities separate
    * at character 0, so widened and true bounds prune identically —
    * the adversarial shared-prefix cases live in
    * StatsFilePruningSpec). The date-box ROWS ride a time-travel read
    * of the date-sorted snapshot — content correctness through a
    * pruned plan, while later optimizes move the head. */
  private val Q170_STRIPE = 256L

  private val q170TypedStats = QueryDef(
    (s, dir) => {
      val out = graft.core.Timing.build {
        val o = java.nio.file.Files.createTempDirectory("graft-q170")
          .resolve("table").toString
        val base = Tables(s, dir, "orders").select(
          col("o_orderkey").as("key"),
          rpad(col("o_orderpriority"), 20, "x").as("pri"),
          col("o_orderdate").cast("date").as("odate"),
          (round(col("o_totalprice") * 100, 0).cast("long") / 100.0)
            .cast(org.apache.spark.sql.types.DecimalType(12, 2))
            .as("price"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
          .localCheckpoint(true)
        create(base, o, "key", hexDigits = 1)
        o
      }
      graft.plans.StatsFilePruning.enable(s)
      def planned(q: DataFrame): Long =
        q.queryExecution.executedPlan.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.totalNumberOfFiles
        }.getOrElse(sys.error("q170: predicate did not plan a file scan"))
      // layout A: date-sorted stripes; a centered 1/16 date box
      val vA = optimize(s, out, "odate",
        maxRecordsPerFile = Some(Q170_STRIPE)).version
      val db = readTable(s, out).agg(min("odate"), max("odate"))
        .collect().head
      def localDate(v: Any): java.time.LocalDate = v match {
        case d: java.sql.Date => d.toLocalDate
        case d: java.time.LocalDate => d
        case other => sys.error(s"q170: unexpected date value $other")
      }
      val (dmn, dmx) = (localDate(db.get(0)), localDate(db.get(1)))
      val span = java.time.temporal.ChronoUnit.DAYS.between(dmn, dmx)
      val d1 = java.sql.Date.valueOf(dmn.plusDays(span * 7 / 16))
      val d2 = java.sql.Date.valueOf(dmn.plusDays(span * 8 / 16))
      val dateBox = readTable(s, out, Some(vA))
        .filter(col("odate").between(lit(d1), lit(d2)))
      val dScanned = planned(dateBox)
      val filesTotal = readManifest(s, out, vA).size.toLong
      // layout B: string-sorted stripes; a priority-class range whose
      // literals are SHORTER than the values (prefix-order comparisons)
      optimize(s, out, "pri", maxRecordsPerFile = Some(Q170_STRIPE))
      val strRange = readTable(s, out)
        .filter(col("pri") >= "2" && col("pri") < "5")
      val sScanned = planned(strRange)
      val sRows = strRange.count()
      // layout C: decimal-sorted stripes; a centered dollar box with
      // literals constructed at the column's exact DecimalType
      val pb = readTable(s, out).agg(min("cents"), max("cents"))
        .collect().head
      val (ymn, ymx) = (pb.getLong(0), pb.getLong(1))
      val y1 = (ymn + (ymx - ymn) * 7 / 16) / 100
      val y2 = (ymn + (ymx - ymn) * 8 / 16) / 100
      def dollars(v: Long) = lit(v)
        .cast(org.apache.spark.sql.types.DecimalType(12, 2))
      optimize(s, out, "price", maxRecordsPerFile = Some(Q170_STRIPE))
      val decBox = readTable(s, out)
        .filter(col("price").between(dollars(y1), dollars(y2)))
      val pScanned = planned(decBox)
      val pRows = decBox.count()
      // The gate hashes values through a representation-sensitive
      // channel; DECIMAL output is emitted as its canonical string
      // (scale-2, so both engines print identically) while the
      // DECIMAL predicate + striped layout above stay the subject and
      // `cents` carries the exact value as BIGINT.
      dateBox.select(col("key"), col("pri"), col("odate"),
          col("price").cast("string").as("price"), col("cents"))
        .withColumn("d_scanned", lit(dScanned))
        .withColumn("s_scanned", lit(sScanned))
        .withColumn("p_scanned", lit(pScanned))
        .withColumn("files_total", lit(filesTotal))
        .withColumn("s_rows", lit(sRows))
        .withColumn("p_rows", lit(pRows))
        .orderBy("key")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key,
       |         rpad(o_orderpriority, 20, 'x') AS pri,
       |         CAST(o_orderdate AS DATE) AS odate,
       |         CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
       |           / 100.0 AS DECIMAL(12,2)) AS price,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |g AS (SELECT base.*, ${bucketSql("key", 1)} AS bkt FROM base),
       |db AS (SELECT min(odate) AS dmn, max(odate) AS dmx FROM base),
       |dp AS (SELECT dmn + CAST(((dmx - dmn) * 7) // 16 AS INTEGER) AS d1,
       |              dmn + CAST(((dmx - dmn) * 8) // 16 AS INTEGER) AS d2
       |       FROM db),
       |fa AS (SELECT g.*, ((row_number() OVER (PARTITION BY bkt
       |         ORDER BY odate, key)) - 1) // $Q170_STRIPE AS fid FROM g),
       |sta AS (SELECT bkt, fid, min(odate) AS fmn, max(odate) AS fmx
       |        FROM fa GROUP BY bkt, fid),
       |cda AS (SELECT
       |    CAST(sum(CASE WHEN fmn <= d2 AND fmx >= d1
       |      THEN 1 ELSE 0 END) AS BIGINT) AS d_scanned,
       |    CAST(count(*) AS BIGINT) AS files_total FROM sta, dp),
       |fb AS (SELECT g.*, ((row_number() OVER (PARTITION BY bkt
       |         ORDER BY pri, key)) - 1) // $Q170_STRIPE AS fid FROM g),
       |stb AS (SELECT bkt, fid, min(pri) AS fmn, max(pri) AS fmx
       |        FROM fb GROUP BY bkt, fid),
       |csb AS (SELECT
       |    CAST(sum(CASE WHEN fmn <= '5' AND fmx >= '2'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS s_scanned FROM stb),
       |srw AS (SELECT CAST(count(*) AS BIGINT) AS s_rows FROM base
       |        WHERE pri >= '2' AND pri < '5'),
       |pb AS (SELECT min(cents) AS ymn, max(cents) AS ymx FROM base),
       |pp AS (SELECT
       |    CAST((ymn + ((ymx - ymn) * 7) // 16) // 100
       |      AS DECIMAL(12,2)) AS plo,
       |    CAST((ymn + ((ymx - ymn) * 8) // 16) // 100
       |      AS DECIMAL(12,2)) AS phi FROM pb),
       |fc AS (SELECT g.*, ((row_number() OVER (PARTITION BY bkt
       |         ORDER BY price, key)) - 1) // $Q170_STRIPE AS fid FROM g),
       |stc AS (SELECT bkt, fid, min(price) AS fmn, max(price) AS fmx
       |        FROM fc GROUP BY bkt, fid),
       |csc AS (SELECT
       |    CAST(sum(CASE WHEN fmn <= phi AND fmx >= plo
       |      THEN 1 ELSE 0 END) AS BIGINT) AS p_scanned FROM stc, pp),
       |prw AS (SELECT CAST(count(*) AS BIGINT) AS p_rows
       |        FROM base, pp WHERE price BETWEEN plo AND phi)
       |SELECT key, pri, odate, CAST(price AS VARCHAR) AS price, cents,
       |       (SELECT d_scanned FROM cda) AS d_scanned,
       |       (SELECT s_scanned FROM csb) AS s_scanned,
       |       (SELECT p_scanned FROM csc) AS p_scanned,
       |       (SELECT files_total FROM cda) AS files_total,
       |       (SELECT s_rows FROM srw) AS s_rows,
       |       (SELECT p_rows FROM prw) AS p_rows
       |FROM base, dp
       |WHERE odate BETWEEN d1 AND d2
       |ORDER BY key""".stripMargin)

  /** q172 — SQL MAINTENANCE acceptance: the whole operational loop in
    * PLAIN SQL through the delegating parser
    * ([[graft.plans.GraftSqlParser]], the Delta OPTIMIZE/VACUUM
    * idiom): lifecycle → rebucket(1) → `OPTIMIZE merge_table.`/dir``
    * SORT BY cents STRIPE 256` → `VACUUM … RETAIN 1 VERSIONS` → a
    * cents box read whose PLANNED file count is pinned to the
    * oracle's single-column stripe model (rank by (cents, key) per
    * md5 bucket, chunk at the stripe, overlap-count — q164's
    * discipline for the sort-striped layout), the full final state
    * riding (q146's invariance: two rewrites + an expiry move no
    * rows), and the retained-version count pinned at 1. A SQL-only
    * operator can now run stripe-for-pruning maintenance and history
    * expiry end-to-end and the gate holds every step. */
  private val q172SqlMaintenance = QueryDef(
    (s, dir) => {
      val out = runLifecycle(s, dir, "q172")
      rebucket(s, out, 1)
      val opt = s.sql(
        s"OPTIMIZE merge_table.`$out` SORT BY cents STRIPE $Q164_STRIPE")
        .collect()
      require(opt.length == 1, "OPTIMIZE must return its stats row")
      val vac = s.sql(s"VACUUM merge_table.`$out` RETAIN 1 VERSIONS")
        .collect()
      require(vac.length == 1, "VACUUM must return its sweep row")
      val vKept = versions(s, out).size.toLong
      graft.plans.StatsFilePruning.enable(s)
      val t = readTable(s, out)
      val b = t.agg(min("cents"), max("cents")).collect().head
      val (mny, mxy) = (b.getLong(0), b.getLong(1))
      val (y1, y2) = (mny + (mxy - mny) * 7 / 16, mny + (mxy - mny) * 8 / 16)
      val q = readTable(s, out).filter(col("cents").between(y1, y2))
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.totalNumberOfFiles
        }.getOrElse(sys.error("q172: box did not plan a file scan"))
      val filesTotal = readManifest(s, out, versions(s, out).last)
        .size.toLong
      q.select("key", "cust", "status", "cents")
        .withColumn("files_scanned", lit(scanned))
        .withColumn("files_total", lit(filesTotal))
        .withColumn("versions_kept", lit(vKept))
        .orderBy("key")
    },
    s"""WITH $lifecycleFinCte,
       |bb AS (SELECT min(cents) AS mny, max(cents) AS mxy FROM fin),
       |p AS (SELECT mny + ((mxy - mny) * 7) // 16 AS y1,
       |             mny + ((mxy - mny) * 8) // 16 AS y2 FROM bb),
       |g AS (SELECT fin.*, ${bucketSql("key", 1)} AS bkt FROM fin),
       |f AS (SELECT *, ((row_number() OVER (PARTITION BY bkt
       |        ORDER BY cents, key)) - 1) // $Q164_STRIPE AS fid FROM g),
       |st AS (SELECT bkt, fid, min(cents) AS fmn, max(cents) AS fmx
       |       FROM f GROUP BY bkt, fid),
       |cnt AS (SELECT
       |    CAST(sum(CASE WHEN fmn <= y2 AND fmx >= y1
       |      THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       |    CAST(count(*) AS BIGINT) AS files_total
       |  FROM st, p)
       |SELECT key, cust, status, cents,
       |       (SELECT files_scanned FROM cnt) AS files_scanned,
       |       (SELECT files_total FROM cnt) AS files_total,
       |       CAST(1 AS BIGINT) AS versions_kept
       |FROM fin, p
       |WHERE cents BETWEEN y1 AND y2
       |ORDER BY key""".stripMargin)

  /** q173 — SQL `INSERT INTO` acceptance: the q140 upsert lifecycle
    * replayed with the LOAD VERB in plain SQL (the reference's own
    * load statement is `COPY INTO`, README.md:286-291 — INSERT INTO is
    * its engine twin, routed through [[upsert]]). The table is created
    * via the API (layout/key declaration has no SQL verb by design);
    * batch 1 then arrives POSITIONALLY (`INSERT INTO … SELECT` with a
    * UNION ALL of updates and fresh negative keys — on a keyed table
    * an existing key REPLACES, a new key appends) and batch 2 through
    * an explicitly PERMUTED column list, exercising both alignment
    * paths. The version sequence is pinned (2 then 3) from the
    * returned stats rows, and the full final state is held to the
    * q140 oracle VERBATIM — the SQL verb must be bit-for-bit the API
    * upsert, latest-wins sequencing included. */
  private val q173SqlInsert = QueryDef(
    (s, dir) => {
      val out = graft.core.Timing.build {
        val o = java.nio.file.Files.createTempDirectory("graft-q173")
          .resolve("table").toString
        val base = baseRows(s, dir).localCheckpoint(true)
        create(base, o, "key")
        base.createOrReplaceTempView("q173_base")
        o
      }
      val r1 = s.sql(
        s"""INSERT INTO merge_table.`$out`
           |SELECT key, cust, status, cents + 100 AS cents
           |FROM q173_base WHERE key % 101 = 0
           |UNION ALL
           |SELECT -key - 1, cust, 'N', cents
           |FROM q173_base WHERE key % 103 = 0""".stripMargin).collect()
      require(r1.length == 1 && r1.head.getLong(0) == 2L,
        "q173: first INSERT must commit version 2")
      val r2 = s.sql(
        s"""INSERT INTO merge_table.`$out` (cents, key, status, cust)
           |SELECT cents + 300, key, status, cust
           |FROM q173_base WHERE key % 202 = 0""".stripMargin).collect()
      require(r2.length == 1 && r2.head.getLong(0) == 3L,
        "q173: second INSERT must commit version 3")
      lifecycleState(s, out)
    },
    lifecycleStateSql(HEX_DIGITS))

  /** q174 — PARTITION-SELECTIVE OPTIMIZE acceptance (`OPTIMIZE …
    * WHERE bucket IN (…)`, Delta's incremental-compaction shape over
    * the hash-bucket layout): at 100 TB a table compacts a few
    * buckets per run, never the whole thing, so the gate pins the
    * amplification discipline (q141's, applied to maintenance): one
    * orders table at 16 buckets (one file per non-empty bucket after
    * create), a SQL scoped stripe of THREE named buckets, and then
    *  - the out-of-scope files are RE-LISTED VERBATIM (Scala-side
    *    require on the relpath sets; count oracle-pinned as the
    *    distinct out-of-scope buckets),
    *  - every fresh file belongs to a scoped bucket, and their count
    *    matches the oracle's stripe-model re-derivation over ONLY the
    *    scope's rows (q164's discipline, scoped),
    *  - the full final state is row-identical (a scoped rewrite moves
    *    layout, never content). */
  private val Q174_STRIPE = 256L

  private val q174ScopedOptimize = QueryDef(
    (s, dir) => {
      val out = graft.core.Timing.build {
        val o = java.nio.file.Files.createTempDirectory("graft-q174")
          .resolve("table").toString
        val base = baseRows(s, dir).localCheckpoint(true)
        create(base, o, "key", hexDigits = 1)
        o
      }
      val scope = Set("0", "4", "a")
      val before = readManifest(s, out, 1L)
      val st = s.sql(
        s"""OPTIMIZE merge_table.`$out` WHERE bucket IN ('0', '4', 'a')
           |SORT BY cents STRIPE $Q174_STRIPE""".stripMargin).collect()
      require(st.length == 1, "q174: scoped OPTIMIZE returns its stats")
      val after = readManifest(s, out, 2L)
      val carried = after.toSet.intersect(before.toSet)
      require(carried ==
        before.filterNot(e => scope.contains(bucketOfEntry(e))).toSet,
        "q174: out-of-scope files must be re-listed verbatim")
      val fresh = after.toSet -- before.toSet
      require(fresh.forall(e => scope.contains(bucketOfEntry(e))),
        "q174: every fresh file must belong to a scoped bucket")
      require(st.head.getLong(1) == (before.size - carried.size).toLong &&
        st.head.getLong(2) == fresh.size.toLong,
        s"q174: the stats row must price exactly the scope: ${st.head}")
      readTable(s, out)
        .select("key", "cust", "status", "cents", "bucket")
        .withColumn("files_before", lit(before.size.toLong))
        .withColumn("files_carried", lit(carried.size.toLong))
        .withColumn("files_rewritten", lit(fresh.size.toLong))
        .orderBy("key")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key, o_custkey AS cust,
       |         o_orderstatus AS status,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |g AS (SELECT base.*, ${bucketSql("key", 1)} AS bkt FROM base),
       |fb AS (SELECT CAST(count(DISTINCT bkt) AS BIGINT) AS n FROM g),
       |cr AS (SELECT CAST(count(DISTINCT bkt) AS BIGINT) AS n FROM g
       |       WHERE bkt NOT IN ('0', '4', 'a')),
       |f AS (SELECT bkt, ((row_number() OVER (PARTITION BY bkt
       |        ORDER BY cents, key)) - 1) // $Q174_STRIPE AS fid
       |      FROM g WHERE bkt IN ('0', '4', 'a')),
       |rw AS (SELECT CAST(count(*) AS BIGINT) AS n
       |       FROM (SELECT DISTINCT bkt, fid FROM f))
       |SELECT key, cust, status, cents, bkt AS bucket,
       |       (SELECT n FROM fb) AS files_before,
       |       (SELECT n FROM cr) AS files_carried,
       |       (SELECT n FROM rw) AS files_rewritten
       |FROM g ORDER BY key""".stripMargin)

  /** q175 — the FULL SQL-ONLY LIFECYCLE: with `CREATE MERGE_TABLE`
    * ([[graft.plans.GraftCreateTableCommand]]) the last API-only verb
    * falls, so this row replays q140 with ZERO engine API calls —
    * `CREATE MERGE_TABLE … AS SELECT` → two `INSERT INTO`s (the q173
    * batches) → a `merge_table('/dir')` TVF read — and holds the full
    * final state to the q140 oracle verbatim (the only non-SQL step
    * is registering the source temp view, which is how any SQL
    * operator names a DataFrame). */
  private val q175SqlLifecycle = QueryDef(
    (s, dir) => {
      val out = graft.core.Timing.build {
        val o = java.nio.file.Files.createTempDirectory("graft-q175")
          .resolve("table").toString
        baseRows(s, dir).localCheckpoint(true)
          .createOrReplaceTempView("q175_base")
        o
      }
      val cr = s.sql(
        s"""CREATE MERGE_TABLE `$out` KEY key BUCKETS 256 AS
           |SELECT * FROM q175_base""".stripMargin).collect()
      require(cr.length == 1 && cr.head.getLong(0) == 1L,
        "q175: CREATE must commit version 1")
      s.sql(
        s"""INSERT INTO merge_table.`$out`
           |SELECT key, cust, status, cents + 100 AS cents
           |FROM q175_base WHERE key % 101 = 0
           |UNION ALL
           |SELECT -key - 1, cust, 'N', cents
           |FROM q175_base WHERE key % 103 = 0""".stripMargin).collect()
      s.sql(
        s"""INSERT INTO merge_table.`$out` (cents, key, status, cust)
           |SELECT cents + 300, key, status, cust
           |FROM q175_base WHERE key % 202 = 0""".stripMargin).collect()
      s.sql(s"SELECT key, cust, status, cents, bucket " +
        s"FROM merge_table('$out') ORDER BY key")
    },
    lifecycleStateSql(HEX_DIGITS))

  /** q176 — MERGE-ON-READ DELETION VECTORS acceptance, SQL-first:
    * create (16 buckets) → `SET TBLPROPERTIES ('graft.deletes.mode' =
    * 'mor')` → a predicate `DELETE` (key % 101 = 0 →
    * [[deleteWhereMor]]) → a keyed `DELETE … IN (1,2,3)`
    * ([[deleteKeysMor]]) — and the gate pins the MOR contract:
    *  - ZERO data files touched across both deletes (manifest entry
    *    sets byte-identical, Scala require; `files_total`
    *    oracle-pinned as the distinct non-empty buckets),
    *  - `dv_tombstones` equals the deleted-row count the oracle
    *    re-derives,
    *  - the CDC window over the tombstone-only commits classifies
    *    exactly those rows as deletes (`cdc_deletes` — the decremented
    *    fingerprints are what let [[changedBuckets]] see them),
    *  - [[fsckDeep]] re-attests the decremented fingerprints clean
    *    (the decrement is EXACT, not approximate),
    *  - time travel still reads the pre-delete row count
    *    (`rows_before_delete`),
    *  - a full OPTIMIZE then MATERIALIZES the deletes (tombstones drop
    *    to zero) and the FINAL STATE — the row output — matches the
    *    oracle's base-minus-deleted restatement verbatim. */
  private val q176DeletionVectors = QueryDef(
    (s, dir) => {
      val out = graft.core.Timing.build {
        val o = java.nio.file.Files.createTempDirectory("graft-q176")
          .resolve("table").toString
        val base = baseRows(s, dir).localCheckpoint(true)
        create(base, o, "key", hexDigits = 1)
        o
      }
      s.sql(s"ALTER TABLE merge_table.`$out` SET TBLPROPERTIES " +
        "('graft.deletes.mode' = 'mor')")
      val before = readManifest(s, out, 2L).toSet
      val r1 = s.sql(
        s"DELETE FROM merge_table.`$out` WHERE key % 101 = 0")
        .collect().head
      require(r1.getLong(0) == 3L, "q176: first DELETE commits v3")
      val r2 = s.sql(
        s"DELETE FROM merge_table.`$out` WHERE key IN (1, 2, 3)")
        .collect().head
      require(r2.getLong(0) == 4L, "q176: second DELETE commits v4")
      val after = readManifest(s, out, 4L).toSet
      require(after == before,
        "q176: MOR deletes must not touch a single data file")
      val det = detail(s, out).collect().head
      val tombs = det.getAs[Long]("dv_tombstones")
      require(tombs == r1.getLong(2) + r2.getLong(2),
        s"q176: tombstones $tombs != deleted " +
          s"${r1.getLong(2)} + ${r2.getLong(2)}")
      require(det.getAs[Long]("dv_files") >= 1L,
        "q176: deletion-vector files must exist")
      val rowsV2 = readTable(s, out, Some(2L)).count()
      val cdcDel = changes(s, out, 2L, 4L)
        .filter(col("change") === "delete").count()
      val deep = fsckDeep(s, out)
      require(deep.mismatched.isEmpty && deep.unattested.isEmpty,
        s"q176: decremented fingerprints must re-attest: $deep")
      optimize(s, out, "cents") // materializes; tombstones purge
      val detAfter = detail(s, out).collect().head
      require(detAfter.getAs[Long]("dv_tombstones") == 0L &&
        detAfter.getAs[Long]("dv_files") == 0L,
        "q176: OPTIMIZE must purge every tombstone")
      readTable(s, out)
        .select("key", "cust", "status", "cents", "bucket")
        .withColumn("files_total", lit(before.size.toLong))
        .withColumn("dv_tombstones", lit(tombs))
        .withColumn("cdc_deletes", lit(cdcDel))
        .withColumn("rows_before_delete", lit(rowsV2))
        .orderBy("key")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key, o_custkey AS cust,
       |         o_orderstatus AS status,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |g AS (SELECT base.*, ${bucketSql("key", 1)} AS bkt FROM base),
       |del AS (SELECT key FROM base
       |        WHERE key % 101 = 0 OR key IN (1, 2, 3)),
       |dn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM del),
       |fb AS (SELECT CAST(count(DISTINCT bkt) AS BIGINT) AS n FROM g),
       |rv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
       |SELECT key, cust, status, cents, bkt AS bucket,
       |       (SELECT n FROM fb) AS files_total,
       |       (SELECT n FROM dn) AS dv_tombstones,
       |       (SELECT n FROM dn) AS cdc_deletes,
       |       (SELECT n FROM rv) AS rows_before_delete
       |FROM g WHERE key NOT IN (SELECT key FROM del)
       |ORDER BY key""".stripMargin)

  /** q177 — BLOOM-FILTER FILE SKIPPING acceptance: equality
    * predicates on a column the layout does NOT cluster by. A
    * cents-striped table's per-file cust min/max spans near-global
    * ranges (hash buckets + an orthogonal sort), so `WHERE cust = ?`
    * can barely skip a file on bounds — the per-file BLOOM
    * (`graft.bloom.columns`, built by the same optimize rewrite that
    * stripes) is what prunes. The PLANNED file count is pinned to the
    * oracle's EXACT re-derivation: the k=4 md5-slice probe positions
    * are pure SQL (the q91 arithmetic), so the oracle rebuilds every
    * file's position set over the stripe model and counts the files
    * whose bits cover the probe — false positives arise from the SAME
    * position collisions on both sides, which is what makes a
    * probabilistic structure hash-gateable at all. Result rows are
    * the full equality slice (bloom pruning must never drop a match —
    * no false negatives by construction). */
  private val Q177_STRIPE = 512L
  private val Q177_BITS = 4096L

  private val q177BloomPruning = QueryDef(
    (s, dir) => {
      val out = graft.core.Timing.build {
        val o = java.nio.file.Files.createTempDirectory("graft-q177")
          .resolve("table").toString
        val base = baseRows(s, dir).localCheckpoint(true)
        create(base, o, "key", hexDigits = 1)
        o
      }
      s.sql(s"ALTER TABLE merge_table.`$out` SET TBLPROPERTIES " +
        s"('graft.bloom.columns' = 'cust', " +
        s"'graft.bloom.bits' = '$Q177_BITS')")
      s.sql(s"OPTIMIZE merge_table.`$out` SORT BY cents " +
        s"STRIPE $Q177_STRIPE")
      val probe = readTable(s, out).filter(col("key") === 7L)
        .select("cust").collect().head.getLong(0)
      graft.plans.StatsFilePruning.enable(s)
      val q = readTable(s, out).filter(col("cust") === probe)
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.totalNumberOfFiles
        }.getOrElse(sys.error("q177: probe did not plan a file scan"))
      val filesTotal = readManifest(s, out, versions(s, out).last)
        .size.toLong
      require(scanned < filesTotal,
        s"q177: the bloom must skip files ($scanned of $filesTotal)")
      q.select("key", "cust", "status", "cents")
        .withColumn("files_scanned", lit(scanned))
        .withColumn("files_total", lit(filesTotal))
        .orderBy("key")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key, o_custkey AS cust,
       |         o_orderstatus AS status,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |pr AS (SELECT cust AS c FROM base WHERE key = 7),
       |g AS (SELECT base.*, ${bucketSql("key", 1)} AS bkt FROM base),
       |f AS (SELECT *, ((row_number() OVER (PARTITION BY bkt
       |        ORDER BY cents, key)) - 1) // $Q177_STRIPE AS fid FROM g),
       |ft AS (SELECT CAST(count(*) AS BIGINT) AS n
       |       FROM (SELECT DISTINCT bkt, fid FROM f)),
       |pp AS (SELECT DISTINCT
       |         CAST(('0x' || substr(md5(CAST(c AS VARCHAR)),
       |           1 + i * 8, 8)) AS BIGINT) % $Q177_BITS AS p
       |       FROM pr, UNNEST([0, 1, 2, 3]) t(i)),
       |fpos AS (SELECT DISTINCT bkt, fid,
       |           CAST(('0x' || substr(md5(CAST(cust AS VARCHAR)),
       |             1 + i * 8, 8)) AS BIGINT) % $Q177_BITS AS p
       |         FROM f, UNNEST([0, 1, 2, 3]) t(i)),
       |hit AS (SELECT bkt, fid FROM fpos JOIN pp USING (p)
       |        GROUP BY bkt, fid
       |        HAVING count(DISTINCT p) = (SELECT count(*) FROM pp)),
       |st AS (SELECT bkt, fid, min(cust) AS cmn, max(cust) AS cmx
       |       FROM f GROUP BY bkt, fid),
       |keepf AS (SELECT st.bkt, st.fid
       |          FROM st JOIN hit USING (bkt, fid) CROSS JOIN pr
       |          WHERE st.cmn <= pr.c AND st.cmx >= pr.c),
       |fs AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keepf)
       |SELECT key, cust, status, cents,
       |       (SELECT n FROM fs) AS files_scanned,
       |       (SELECT n FROM ft) AS files_total
       |FROM base, pr WHERE cust = c
       |ORDER BY key""".stripMargin)

  /** q178 — MERGE-ON-READ UPSERT acceptance: the q140 lifecycle
    * (create → batch 1 updates+inserts → batch 2 re-updates a subset,
    * latest-wins) replayed through [[upsertMor]] and held to the SAME
    * final-state oracle verbatim — the write path changes (tombstone +
    * append instead of bucket rewrite), the table must not. The
    * amplification pins are the point: NO base file is rewritten by
    * either batch (entry-set require — copy-on-write rewrote ~39
    * buckets here, q141), appended files ≤ touched buckets per batch,
    * matched/inserted counts exact (batch 2's keys are a subset of
    * batch 1's — its tombstones hit the APPENDED epoch's rows, the
    * multi-epoch-bucket stress), and [[fsckDeep]] re-attests the
    * three-term fingerprint arithmetic (old − tombstoned + appended)
    * across every mixed-epoch bucket. */
  private val q178MorLifecycle = QueryDef(
    (s, dir) => {
      val (out, base) = graft.core.Timing.build {
        val o = java.nio.file.Files.createTempDirectory("graft-q178")
          .resolve("table").toString
        val b = baseRows(s, dir).localCheckpoint(true)
        create(b, o, "key")
        (o, b)
      }
      val baseFiles = readManifest(s, out, 1L).toSet
      val st1 = upsertMor(s, out, batch1(base))
      val st2 = upsertMor(s, out, batch2(base))
      val finalFiles = readManifest(s, out, 3L).toSet
      require(baseFiles.subsetOf(finalFiles),
        "q178: a MOR upsert must never rewrite a base file")
      val nUpd = base.filter(col("key") % 101 === 0).count()
      val nIns = base.filter(col("key") % 103 === 0).count()
      val nUpd2 = base.filter(col("key") % 202 === 0).count()
      require(st1.rowsMatched == nUpd && st1.rowsInserted == nIns,
        s"q178: batch-1 counts ${st1.rowsMatched}/${st1.rowsInserted}" +
          s" != $nUpd/$nIns")
      require(st2.rowsMatched == nUpd2 && st2.rowsInserted == 0L,
        s"q178: batch-2 counts ${st2.rowsMatched}/${st2.rowsInserted}" +
          s" != $nUpd2/0")
      require(st1.filesAppended <= st1.bucketsTouched &&
        st2.filesAppended <= st2.bucketsTouched,
        "q178: the append epoch writes at most one file per bucket")
      val deep = fsckDeep(s, out)
      require(deep.mismatched.isEmpty && deep.unattested.isEmpty,
        s"q178: mixed-epoch fingerprints must re-attest: $deep")
      lifecycleState(s, out)
    },
    lifecycleStateSql(HEX_DIGITS))

  /** q179 — TIMESTAMP TIME TRAVEL acceptance: the q142 version
    * signatures re-resolved through [[versionAsOf]] — each version's
    * own effective in-commit timestamp must resolve to exactly that
    * version (strict monotonization makes the boundary unambiguous
    * even under writer clock skew), and a far-future probe resolves to
    * the head. A pre-history probe must refuse loudly (Scala require —
    * vacuumed history is named, not silently substituted). The oracle
    * is q142's signature arithmetic keyed by probe label: wall-clock
    * values never enter the output, only what they RESOLVE to. */
  private val q179TimestampTravel = QueryDef(
    (s, dir) => {
      val out = memoLifecycle(s, dir)._1
      val times = commitTimes(s, out)
      require(times.map(_._2) == times.map(_._2).sorted &&
        times.map(_._2).distinct.size == times.size,
        "q179: effective commit times must be strictly increasing")
      val early = intercept(versionAsOf(s, out, times.head._2 - 1))
      require(early, "q179: a pre-history timestamp must refuse")
      def sig(label: String, ts: Long): DataFrame =
        readTableAsOf(s, out, ts)
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"),
            sum(when(col("key") < 0, 1L).otherwise(0L)).as("n_inserted"))
          .select(lit(label).as("probe"), col("n_rows"),
            col("sum_cents"), col("n_inserted"))
      val probes = times.map { case (v, ts) => sig(s"v$v", ts) } :+
        sig("late", times.last._2 + 3600L * 1000L)
      probes.reduce(_ unionByName _).orderBy("probe")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |             CAST(sum(cents) AS BIGINT) AS c FROM base),
       |u1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base
       |       WHERE key % 101 = 0),
       |i1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |              CAST(coalesce(sum(cents), 0) AS BIGINT) AS c
       |       FROM base WHERE key % 103 = 0),
       |u2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base
       |       WHERE key % 202 = 0)
       |SELECT 'v1' AS probe, n.n AS n_rows, n.c AS sum_cents,
       |       CAST(0 AS BIGINT) AS n_inserted FROM n
       |UNION ALL
       |SELECT 'v2', n.n + i1.n, n.c + u1.n * 100 + i1.c, i1.n
       |FROM n, u1, i1
       |UNION ALL
       |SELECT 'v3', n.n + i1.n, n.c + u1.n * 100 + u2.n * 200 + i1.c,
       |       i1.n
       |FROM n, u1, i1, u2
       |UNION ALL
       |SELECT 'late', n.n + i1.n,
       |       n.c + u1.n * 100 + u2.n * 200 + i1.c, i1.n
       |FROM n, u1, i1, u2
       |ORDER BY probe""".stripMargin)

  /** True when `body` throws IllegalArgumentException. */
  private def intercept(body: => Any): Boolean =
    try { body; false }
    catch { case _: IllegalArgumentException => true }

  /** q153 — LAYOUT-ONLY COMMITS ARE CDC-FREE, the round-13
    * short-circuit priced end-to-end through the WIRED publisher:
    * create → bootstrap pin → batch-1 upsert → publish (a real batch:
    * every update + insert row) → OPTIMIZE (rewrites every file, moves
    * no row) → publish again. The second publish's window straddles
    * the maintenance commit, and the content fingerprints must prove
    * every bucket unchanged BEFORE a byte is read: the gate pins the
    * changed-bucket count at 0 and the published batch at 0 rows —
    * routine nightly OPTIMIZE on a 100 TB table costs the next CDC run
    * two manifest reads, not a table-sized diff. The full final state
    * rides the same row set (the q140 discipline), so the short-circuit
    * can never pass by simply not publishing real changes. */
  private val q153LayoutCdc = QueryDef(
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-q153")
      val table = root.resolve("table").toString
      val sink = root.resolve("sink").toString
      val cursor =
        new graft.ingest.FileCursorStore(root.resolve("pc").toString)
      val base = graft.core.Timing.build {
        val b = baseRows(s, dir).localCheckpoint(true)
        create(b, table, "key")
        graft.ingest.ChangefeedRunner.runOnce(s, table, sink, cursor)
        b
      }
      upsert(s, table, batch1(base))
      val pub1 = graft.ingest.ChangefeedRunner
        .runOnce(s, table, sink, cursor)
        .map(_.rows).getOrElse(-1L)
      optimize(s, table, "cents")
      val cbOpt = changedBuckets(s, table, 2L, 3L).size.toLong
      val pub2 = graft.ingest.ChangefeedRunner
        .runOnce(s, table, sink, cursor)
        .map(_.rows).getOrElse(-1L)
      lifecycleState(s, table)
        .withColumn("rows_pub1", lit(pub1))
        .withColumn("buckets_changed_by_optimize", lit(cbOpt))
        .withColumn("rows_pub2", lit(pub2))
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key, o_custkey AS cust,
       |         o_orderstatus AS status,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |fin AS (
       |  SELECT key, cust, status,
       |         CASE WHEN key % 101 = 0 THEN cents + 100
       |              ELSE cents END AS cents
       |  FROM base
       |  UNION ALL
       |  SELECT -key - 1, cust, 'N', cents FROM base
       |  WHERE key % 103 = 0)
       |SELECT key, cust, status, cents,
       |       ${bucketSql("key", HEX_DIGITS)} AS bucket,
       |       (SELECT CAST(count(*) AS BIGINT) FROM base
       |          WHERE key % 101 = 0)
       |         + (SELECT CAST(count(*) AS BIGINT) FROM base
       |              WHERE key % 103 = 0) AS rows_pub1,
       |       CAST(0 AS BIGINT) AS buckets_changed_by_optimize,
       |       CAST(0 AS BIGINT) AS rows_pub2
       |FROM fin ORDER BY key""")

  /** q155 — REBUCKET-ONLY WINDOWS ARE CDC-FREE, q153's discipline
    * applied to the one maintenance commit that also destroys bucket
    * identity: create → bootstrap pin → batch-1 upsert → publish (a
    * real batch) → REBUCKET to one hex digit (re-hashes every key,
    * rewrites every file, moves no row) → publish again. Bucket-level
    * fingerprints cannot prune across the width change, but their
    * TABLE-LEVEL total is width-invariant (sums are associative), so
    * the gate pins the changed-bucket count at 0 and the published
    * batch at 0 rows — a live-table migration costs the next CDC run
    * two manifest reads, not the keyed full diff the pre-shortcut
    * design paid. The full final state rides the same row set with
    * the bucket column restated at the NEW width (the q150
    * discipline), so the short-circuit can never pass by skipping a
    * migration that actually lost or moved rows. */
  private val q155RebucketCdc = QueryDef(
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-q155")
      val table = root.resolve("table").toString
      val sink = root.resolve("sink").toString
      val cursor =
        new graft.ingest.FileCursorStore(root.resolve("pc").toString)
      val base = graft.core.Timing.build {
        val b = baseRows(s, dir).localCheckpoint(true)
        create(b, table, "key")
        graft.ingest.ChangefeedRunner.runOnce(s, table, sink, cursor)
        b
      }
      upsert(s, table, batch1(base))
      val pub1 = graft.ingest.ChangefeedRunner
        .runOnce(s, table, sink, cursor)
        .map(_.rows).getOrElse(-1L)
      rebucket(s, table, 1)
      val cbReb = changedBuckets(s, table, 2L, 3L).size.toLong
      val pub2 = graft.ingest.ChangefeedRunner
        .runOnce(s, table, sink, cursor)
        .map(_.rows).getOrElse(-1L)
      lifecycleState(s, table)
        .withColumn("rows_pub1", lit(pub1))
        .withColumn("buckets_changed_by_rebucket", lit(cbReb))
        .withColumn("rows_pub2", lit(pub2))
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key, o_custkey AS cust,
       |         o_orderstatus AS status,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |fin AS (
       |  SELECT key, cust, status,
       |         CASE WHEN key % 101 = 0 THEN cents + 100
       |              ELSE cents END AS cents
       |  FROM base
       |  UNION ALL
       |  SELECT -key - 1, cust, 'N', cents FROM base
       |  WHERE key % 103 = 0)
       |SELECT key, cust, status, cents,
       |       ${bucketSql("key", 1)} AS bucket,
       |       (SELECT CAST(count(*) AS BIGINT) FROM base
       |          WHERE key % 101 = 0)
       |         + (SELECT CAST(count(*) AS BIGINT) FROM base
       |              WHERE key % 103 = 0) AS rows_pub1,
       |       CAST(0 AS BIGINT) AS buckets_changed_by_rebucket,
       |       CAST(0 AS BIGINT) AS rows_pub2
       |FROM fin ORDER BY key""")

  /** q156 — DEEP FSCK acceptance: the changefeed fingerprints double
    * as an at-rest INTEGRITY contract, and this row proves the
    * recompute agrees with the attestations across the entire
    * maintenance surface: full lifecycle (create + two upserts) →
    * [[rebucket]] to one hex digit → [[optimize]] → [[fsckDeep]].
    * Every live bucket must be attested (unattested = 0) and every
    * recomputed (rows, hash-sum) must equal what the commits wrote
    * (mismatches = 0) — a fingerprint-INHERITANCE bug anywhere in
    * upsert/rebucket/optimize, or a write that lied about what
    * reached disk, fails the gate; buckets_checked is re-derived by
    * the oracle as the distinct bucket count at the migrated width,
    * so the audit can't pass by checking nothing. The full final
    * state rides along (the q150 discipline). Corruption DETECTION —
    * a planted bit-flip landing in `mismatched` — is fault injection
    * and lives in MergeTableSpec, not an oracle row. */
  private val q156FsckDeep = QueryDef(
    (s, dir) => {
      val out = runLifecycle(s, dir, "q156")
      rebucket(s, out, 1)
      optimize(s, out, "cents")
      val rep = fsckDeep(s, out)
      lifecycleState(s, out)
        .withColumn("buckets_checked", lit(rep.bucketsChecked))
        .withColumn("content_mismatches",
          lit(rep.mismatched.size.toLong))
        .withColumn("unattested", lit(rep.unattested.size.toLong))
    },
    s"""WITH $lifecycleFinCte
       |SELECT key, cust, status, cents,
       |       ${bucketSql("key", 1)} AS bucket,
       |       (SELECT CAST(count(DISTINCT ${bucketSql("key", 1)})
       |          AS BIGINT) FROM fin) AS buckets_checked,
       |       CAST(0 AS BIGINT) AS content_mismatches,
       |       CAST(0 AS BIGINT) AS unattested
       |FROM fin ORDER BY key""")

  /** q157 — POINT-LOOKUP PRUNING acceptance: on the shared lifecycle
    * table, look up the keys `key % 2003 = 0` (plus their negative
    * insert twins where they exist) through BOTH lookup paths —
    * declarative ([[readTable]] + `isin` filter, rewritten by
    * [[graft.plans.KeyToBucketPruning]] into a `bucket IN` partition
    * filter) and API ([[readKeys]], manifest pruned driver-side) —
    * and gate the ROWS (full lifecycle arithmetic: updates, inserts,
    * latest-wins all visible through a pruned read) AND the FILES
    * SCANNED: both paths must read exactly count(DISTINCT md5-bucket)
    * files, one live file per impacted bucket, which the oracle
    * re-derives with the same md5 arithmetic. A point lookup on a
    * 100 TB snapshot costs the impacted buckets' files, never a
    * table scan — and the gate fails if either path silently widens. */
  private val q157PointLookup = QueryDef(
    (s, dir) => {
      val (out, _, _) = memoLifecycle(s, dir)
      val ks: Seq[Long] = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 2003 === 0)
        .select(col("o_orderkey").cast("long"))
        .collect().map(_.getLong(0)).toSeq.sorted
      val lookupKeys: Seq[Long] = ks ++ ks.filter(_ % 103 == 0).map(-_ - 1L)
      graft.plans.KeyToBucketPruning.enable(s)
      val lookup = readTable(s, out)
        .filter(col("key").isin(lookupKeys: _*))
      val scan = lookup.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.getOrElse(sys.error("point lookup did not plan a file scan"))
      val filesScanned = scan.selectedPartitions.totalNumberOfFiles
      val filesApi = readKeys(s, out, lookupKeys).inputFiles.length.toLong
      lookup.select("key", "cust", "status", "cents", "bucket")
        .withColumn("files_scanned", lit(filesScanned))
        .withColumn("files_api", lit(filesApi))
        .orderBy("key")
    },
    s"""WITH $lifecycleFinCte,
       |sel AS (
       |  SELECT * FROM fin
       |  WHERE (key >= 0 AND key % 2003 = 0)
       |     OR (key < 0 AND (-key - 1) % 2003 = 0))
       |SELECT key, cust, status, cents,
       |       ${bucketSql("key")} AS bucket,
       |       (SELECT CAST(count(DISTINCT ${bucketSql("key")})
       |          AS BIGINT) FROM sel) AS files_scanned,
       |       (SELECT CAST(count(DISTINCT ${bucketSql("key")})
       |          AS BIGINT) FROM sel) AS files_api
       |FROM sel ORDER BY key""")

  /** q159 — SQL SURFACE acceptance: the full lifecycle state read
    * through `merge_table('$dir')` in plain SQL (the table-valued
    * function splices [[readTable]]'s scan at analysis, so snapshot
    * resolution, footer metadata and partition pruning all ride along),
    * held to the IDENTICAL oracle as q140's DataFrame read — plus a
    * time-travel probe (`merge_table(dir, 1)` row count = the
    * pre-update base) riding every row as an oracle-pinned constant.
    * A SQL user and a DataFrame user must see byte-identical tables. */
  private val q159SqlTable = QueryDef(
    (s, dir) => {
      val (out, _, _) = memoLifecycle(s, dir)
      registerSql(s)
      val v1Rows = s.sql(
        s"SELECT count(*) AS c FROM merge_table('$out', 1)")
        .collect().head.getLong(0)
      s.sql(s"SELECT key, cust, status, cents, bucket " +
          s"FROM merge_table('$out') ORDER BY key")
        .withColumn("v1_rows", lit(v1Rows))
    },
    s"""WITH $lifecycleFinCte
       |SELECT key, cust, status, cents,
       |       ${bucketSql("key")} AS bucket,
       |       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS v1_rows
       |FROM fin ORDER BY key""".stripMargin)

  /** q160 — SQL CDC acceptance: the version-1→3 change batch read
    * through `table_changes('$dir', 1, 3)` in plain SQL, gated against
    * the oracle's re-derivation of the diff from orders arithmetic —
    * updates (latest-wins across both upserts) and inserts, old/new
    * struct fields projected by name. Two probes ride every row as
    * oracle-pinned constants: `table_changes(dir, 2)` row count (the
    * DEFAULT-toV path — changes since v2 = exactly the batch-2 keys)
    * and a `merge_table_history` checksum (Σ v·rows over the three
    * manifest-attested versions — the fingerprint ledger exposed to
    * SQL, priced at zero data reads). A SQL consumer and the
    * [[changes]] API must see the identical feed. */
  private val q160SqlChanges = QueryDef(
    (s, dir) => {
      val (out, _, _) = memoLifecycle(s, dir)
      registerSql(s)
      val w23 = s.sql(
        s"SELECT count(*) AS c FROM table_changes('$out', 2)")
        .collect().head.getLong(0)
      val hist = s.sql(
        s"SELECT sum(v * rows) AS t FROM merge_table_history('$out')")
        .collect().head.getLong(0)
      s.sql(
        s"""SELECT key, change, old_row.cents AS old_cents,
           |       new_row.cents AS new_cents
           |FROM table_changes('$out', 1, 3) ORDER BY key""".stripMargin)
        .withColumn("w23_rows", lit(w23))
        .withColumn("hist_probe", lit(hist))
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |n AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n1,
       |         CAST(count(*) FILTER (WHERE key % 103 = 0) AS BIGINT)
       |           AS ins,
       |         CAST(count(*) FILTER (WHERE key % 202 = 0) AS BIGINT)
       |           AS w23
       |  FROM base)
       |SELECT key, change, old_cents, new_cents,
       |       (SELECT w23 FROM n) AS w23_rows,
       |       (SELECT 1 * n1 + 5 * (n1 + ins) FROM n) AS hist_probe
       |FROM (
       |  SELECT key, 'update' AS change, cents AS old_cents,
       |         cents + CASE WHEN key % 202 = 0 THEN 300 ELSE 100 END
       |           AS new_cents
       |  FROM base WHERE key % 101 = 0
       |  UNION ALL
       |  SELECT -key - 1, 'insert', CAST(NULL AS BIGINT), cents
       |  FROM base WHERE key % 103 = 0)
       |ORDER BY key""".stripMargin)

  /** q161 — conditional three-way MERGE acceptance: build the keyed
    * orders table fresh, run ONE [[merge]] carrying every clause class
    * — a conditional matched update (src strictly larger), a
    * fall-through matched delete, a conditional insert, a by-source
    * aging update and a by-source reap — and dump the full final state
    * (key, cents, status, note) with the per-class row stats riding as
    * pinned columns. The oracle replays the clause algebra in SQL over
    * a FULL OUTER JOIN: first-firing-clause dispatch, set defaults
    * (matched/by-source fall back to the target value, inserts to the
    * source), the schema-extending `note` column, and skipped
    * (not deleted) unaccepted inserts are all hash-gated row for
    * row. */
  private val q161MergeClauses = QueryDef(
    (s, dir) => {
      val root = graft.core.Timing.build {
        val out = java.nio.file.Files
          .createTempDirectory("graft-q161").resolve("t").toString
        create(baseRows(s, dir).select("key", "cents", "status"), out,
          "key")
        out
      }
      val t = readTable(s, root).select("key", "cents", "status")
      val src = t.filter(col("key") % 13 === 0)
        .select(col("key"),
          (col("cents") + (col("key") % 200) - 100).as("cents"),
          col("status"))
        .unionByName(t.filter(col("key") % 17 === 0)
          .select((-col("key") - 1).as("key"),
            (col("cents") + 50).as("cents"), lit("N").as("status")))
      val st = merge(s, root, src,
        matched = Seq(
          MergeWhen(Some(col("src.cents") > col("tgt.cents")),
            MergeAction.Update(Map("cents" -> col("src.cents"),
              "note" -> lit("up")))),
          MergeWhen(None, MergeAction.Delete)),
        notMatched = Seq(
          MergeWhen(Some(col("src.cents") % 3 =!= 0),
            MergeAction.UpdateAll)),
        notMatchedBySource = Seq(
          MergeWhen(Some(col("tgt.key") % 19 === 0),
            MergeAction.Update(Map("cents" -> (col("tgt.cents") + 1),
              "note" -> lit("aged")))),
          MergeWhen(Some(col("tgt.key") % 23 === 0),
            MergeAction.Delete)))
      readTable(s, root)
        .select("key", "cents", "status", "note")
        .withColumn("n_upd", lit(st.rowsUpdated))
        .withColumn("n_del", lit(st.rowsDeleted))
        .withColumn("n_ins", lit(st.rowsInserted))
        .orderBy("key")
    },
    s"""WITH t AS (
       |  SELECT o_orderkey AS key,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
       |         o_orderstatus AS status
       |  FROM orders),
       |s AS (
       |  SELECT key, cents + (key % 200) - 100 AS cents, status
       |  FROM t WHERE key % 13 = 0
       |  UNION ALL
       |  SELECT -key - 1, cents + 50, 'N' FROM t WHERE key % 17 = 0),
       |j AS (
       |  SELECT coalesce(t.key, s.key) AS key,
       |         t.key IS NOT NULL AS has_t, s.key IS NOT NULL AS has_s,
       |         t.cents AS tc, t.status AS tst,
       |         s.cents AS sc, s.status AS sst
       |  FROM t FULL OUTER JOIN s ON t.key = s.key),
       |r AS (
       |  SELECT key, tc, tst, sc, sst,
       |         CASE
       |           WHEN has_t AND has_s AND sc > tc THEN 1
       |           WHEN has_t AND has_s THEN 2
       |           WHEN NOT has_t AND sc % 3 <> 0 THEN 3
       |           WHEN NOT has_t THEN -1
       |           WHEN key % 19 = 0 THEN 4
       |           WHEN key % 23 = 0 THEN 5
       |           ELSE 0 END AS act
       |  FROM j),
       |n AS (
       |  SELECT
       |    CAST(count(*) FILTER (WHERE act IN (1, 4)) AS BIGINT) AS upd,
       |    CAST(count(*) FILTER (WHERE act IN (2, 5)) AS BIGINT) AS del,
       |    CAST(count(*) FILTER (WHERE act = 3) AS BIGINT) AS ins
       |  FROM r)
       |SELECT key,
       |       CASE act WHEN 1 THEN sc WHEN 3 THEN sc
       |                WHEN 4 THEN tc + 1 ELSE tc END AS cents,
       |       CASE WHEN act = 3 THEN sst ELSE tst END AS status,
       |       CASE act WHEN 1 THEN 'up' WHEN 4 THEN 'aged'
       |                ELSE NULL END AS note,
       |       (SELECT upd FROM n) AS n_upd,
       |       (SELECT del FROM n) AS n_del,
       |       (SELECT ins FROM n) AS n_ins
       |FROM r WHERE act IN (0, 1, 3, 4)
       |ORDER BY key""".stripMargin)

  /** q180 — MERGE-ON-READ MERGE acceptance: q161's five-clause merge
    * (conditional matched update with a schema-extending `note`,
    * fall-through delete, conditional insert, by-source aging + reap)
    * replayed through [[mergeMor]] and held to q161's IDENTICAL
    * oracle — clause algebra unchanged, write path swapped for
    * tombstones + one append epoch. The by-source clauses force the
    * full-table classification read, and STILL no base file is
    * rewritten (entry-superset require) — the merge that copy-on-write
    * prices as a full-table rewrite lands as O(changed rows) of new
    * bytes. [[fsckDeep]] re-attests the three-term fingerprints
    * across every touched bucket (tombstoned aged/reaped/updated rows
    * + appended updated/inserted rows + schema extension). */
  private val q180MorMerge = QueryDef(
    (s, dir) => {
      val root = graft.core.Timing.build {
        val out = java.nio.file.Files
          .createTempDirectory("graft-q180").resolve("t").toString
        create(baseRows(s, dir).select("key", "cents", "status"), out,
          "key")
        out
      }
      val baseFiles = readManifest(s, root, 1L).toSet
      val t = readTable(s, root).select("key", "cents", "status")
      val src = t.filter(col("key") % 13 === 0)
        .select(col("key"),
          (col("cents") + (col("key") % 200) - 100).as("cents"),
          col("status"))
        .unionByName(t.filter(col("key") % 17 === 0)
          .select((-col("key") - 1).as("key"),
            (col("cents") + 50).as("cents"), lit("N").as("status")))
      val st = mergeMor(s, root, src,
        matched = Seq(
          MergeWhen(Some(col("src.cents") > col("tgt.cents")),
            MergeAction.Update(Map("cents" -> col("src.cents"),
              "note" -> lit("up")))),
          MergeWhen(None, MergeAction.Delete)),
        notMatched = Seq(
          MergeWhen(Some(col("src.cents") % 3 =!= 0),
            MergeAction.UpdateAll)),
        notMatchedBySource = Seq(
          MergeWhen(Some(col("tgt.key") % 19 === 0),
            MergeAction.Update(Map("cents" -> (col("tgt.cents") + 1),
              "note" -> lit("aged")))),
          MergeWhen(Some(col("tgt.key") % 23 === 0),
            MergeAction.Delete)))
      require(baseFiles.subsetOf(readManifest(s, root, 2L).toSet),
        "q180: a MOR merge must never rewrite a base file")
      val deep = fsckDeep(s, root)
      require(deep.mismatched.isEmpty && deep.unattested.isEmpty,
        s"q180: merged fingerprints must re-attest: $deep")
      readTable(s, root)
        .select("key", "cents", "status", "note")
        .withColumn("n_upd", lit(st.rowsUpdated))
        .withColumn("n_del", lit(st.rowsDeleted))
        .withColumn("n_ins", lit(st.rowsInserted))
        .orderBy("key")
    },
    q161MergeClauses.oracle.get)

  /** q166 — SQL MERGE INTO acceptance: q161's five-clause merge
    * replayed VERBATIM through a real `MERGE INTO merge_table.'/dir'`
    * statement — Spark's own grammar, the
    * [[graft.plans.MergeIntoMergeTable]] resolution route, the same
    * clause engine — and held to q161's IDENTICAL oracle. The SQL and
    * API paths must be indistinguishable row for row AND stat for
    * stat (the returned DML metrics row feeds the pinned n_upd/n_del/
    * n_ins columns), which is what makes the statement an entry point
    * rather than a dialect: clause-order dispatch, set defaults, the
    * schema-extending `note` column and skipped unaccepted inserts
    * all hash-gate through the parser. */
  private val q166SqlMergeDml = QueryDef(
    (s, dir) => {
      val root = graft.core.Timing.build {
        val out = java.nio.file.Files
          .createTempDirectory("graft-q166").resolve("t").toString
        create(baseRows(s, dir).select("key", "cents", "status"), out,
          "key")
        out
      }
      val t = readTable(s, root).select("key", "cents", "status")
      t.filter(col("key") % 13 === 0)
        .select(col("key"),
          (col("cents") + (col("key") % 200) - 100).as("cents"),
          col("status"))
        .unionByName(t.filter(col("key") % 17 === 0)
          .select((-col("key") - 1).as("key"),
            (col("cents") + 50).as("cents"), lit("N").as("status")))
        .createOrReplaceTempView("q166_src")
      val st = s.sql(
        s"""MERGE INTO merge_table.`$root` AS t
           |USING q166_src AS s
           |ON t.key = s.key
           |WHEN MATCHED AND s.cents > t.cents THEN
           |  UPDATE SET cents = s.cents, note = 'up'
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED AND s.cents % 3 != 0 THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND t.key % 19 = 0 THEN
           |  UPDATE SET cents = t.cents + 1, note = 'aged'
           |WHEN NOT MATCHED BY SOURCE AND t.key % 23 = 0 THEN DELETE
           |""".stripMargin).collect().head
      readTable(s, root)
        .select("key", "cents", "status", "note")
        .withColumn("n_upd", lit(st.getLong(1)))
        .withColumn("n_del", lit(st.getLong(2)))
        .withColumn("n_ins", lit(st.getLong(3)))
        .orderBy("key")
    },
    s"""WITH t AS (
       |  SELECT o_orderkey AS key,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
       |         o_orderstatus AS status
       |  FROM orders),
       |s AS (
       |  SELECT key, cents + (key % 200) - 100 AS cents, status
       |  FROM t WHERE key % 13 = 0
       |  UNION ALL
       |  SELECT -key - 1, cents + 50, 'N' FROM t WHERE key % 17 = 0),
       |j AS (
       |  SELECT coalesce(t.key, s.key) AS key,
       |         t.key IS NOT NULL AS has_t, s.key IS NOT NULL AS has_s,
       |         t.cents AS tc, t.status AS tst,
       |         s.cents AS sc, s.status AS sst
       |  FROM t FULL OUTER JOIN s ON t.key = s.key),
       |r AS (
       |  SELECT key, tc, tst, sc, sst,
       |         CASE
       |           WHEN has_t AND has_s AND sc > tc THEN 1
       |           WHEN has_t AND has_s THEN 2
       |           WHEN NOT has_t AND sc % 3 <> 0 THEN 3
       |           WHEN NOT has_t THEN -1
       |           WHEN key % 19 = 0 THEN 4
       |           WHEN key % 23 = 0 THEN 5
       |           ELSE 0 END AS act
       |  FROM j),
       |n AS (
       |  SELECT
       |    CAST(count(*) FILTER (WHERE act IN (1, 4)) AS BIGINT) AS upd,
       |    CAST(count(*) FILTER (WHERE act IN (2, 5)) AS BIGINT) AS del,
       |    CAST(count(*) FILTER (WHERE act = 3) AS BIGINT) AS ins
       |  FROM r)
       |SELECT key,
       |       CASE act WHEN 1 THEN sc WHEN 3 THEN sc
       |                WHEN 4 THEN tc + 1 ELSE tc END AS cents,
       |       CASE WHEN act = 3 THEN sst ELSE tst END AS status,
       |       CASE act WHEN 1 THEN 'up' WHEN 4 THEN 'aged'
       |                ELSE NULL END AS note,
       |       (SELECT upd FROM n) AS n_upd,
       |       (SELECT del FROM n) AS n_del,
       |       (SELECT ins FROM n) AS n_ins
       |FROM r WHERE act IN (0, 1, 3, 4)
       |ORDER BY key""".stripMargin)

  /** q169 — SQL UPDATE/DELETE acceptance: sourceless DML statements
    * against `merge_table.'/dir'` — `UPDATE ... SET ... WHERE` then
    * `DELETE FROM ... WHERE` — each executed as one by-source merge
    * commit (every target row is not-matched by an empty source: the
    * full-table pass SQL's sourceless DML prices, the same honesty as
    * a by-source clause). The full final state is hash-gated against
    * the oracle's CASE restatement over orders, with both statements'
    * stats rows riding as pinned columns — SET arithmetic evaluated
    * over the target row, WHERE dispatch, and the two snapshot
    * commits all through Spark's own parser. */
  private val q169SqlUpdateDelete = QueryDef(
    (s, dir) => {
      val root = graft.core.Timing.build {
        val out = java.nio.file.Files
          .createTempDirectory("graft-q169").resolve("t").toString
        create(baseRows(s, dir).select("key", "cents", "status"), out,
          "key")
        out
      }
      val up = s.sql(
        s"""UPDATE merge_table.`$root` AS t
           |SET cents = t.cents + 7, status = 'U'
           |WHERE t.key % 11 = 0""".stripMargin).collect().head
      val del = s.sql(
        s"DELETE FROM merge_table.`$root` WHERE key % 13 = 0")
        .collect().head
      readTable(s, root).select("key", "cents", "status")
        .withColumn("n_upd", lit(up.getLong(1)))
        .withColumn("n_del", lit(del.getLong(2)))
        .orderBy("key")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
       |         o_orderstatus AS status
       |  FROM orders),
       |n AS (
       |  SELECT
       |    CAST(count(*) FILTER (WHERE key % 11 = 0) AS BIGINT) AS upd,
       |    CAST(count(*) FILTER (WHERE key % 13 = 0) AS BIGINT) AS del
       |  FROM base)
       |SELECT key,
       |       CASE WHEN key % 11 = 0 THEN cents + 7 ELSE cents END
       |         AS cents,
       |       CASE WHEN key % 11 = 0 THEN 'U' ELSE status END AS status,
       |       (SELECT upd FROM n) AS n_upd,
       |       (SELECT del FROM n) AS n_del
       |FROM base WHERE key % 13 <> 0
       |ORDER BY key""".stripMargin)

  /** q168 — SCHEMA EVOLUTION acceptance (rename + drop, the column-
    * mapping model): create the keyed orders table → batch-1 upsert
    * (old names) → RENAME cents→amount (pure-metadata commit) →
    * batch-2 upsert carrying the NEW name → DROP cust (pure-metadata
    * commit) — then dump the full final state under the lifecycle
    * oracle with the RENAMED column and WITHOUT the dropped one.
    * Three probes ride every row, oracle-pinned: `v2_sum_cents` (TIME
    * TRAVEL to the pre-rename snapshot reads the OLD name — each
    * manifest carries its own mapping), and the changefeed row counts
    * across the rename-only and drop-only windows, both 0 — mapping
    * commits re-list the same files with the same fingerprints, so
    * they are as CDC-free as OPTIMIZE. A rename that moved values,
    * lost batch-2's writes through the name boundary, or leaked the
    * dropped column fails the hash row for row. */
  private val q168SchemaEvolution = QueryDef(
    (s, dir) => {
      val root = graft.core.Timing.build {
        val out = java.nio.file.Files
          .createTempDirectory("graft-q168").resolve("t").toString
        val base = baseRows(s, dir).localCheckpoint(true)
        create(base, out, "key")
        upsert(s, out, batch1(base)): Unit
        out
      }
      val vRename = renameColumn(s, root, "cents", "amount")
      val renameCdc = changes(s, root, vRename - 1, vRename).count()
      val base = baseRows(s, dir)
      upsert(s, root, batch2(base).withColumnRenamed("cents", "amount"))
      val vDrop = dropColumn(s, root, "cust")
      val dropCdc = changes(s, root, vDrop - 1, vDrop).count()
      val v2Sum = readTable(s, root, Some(2L))
        .agg(sum("cents")).collect().head.getLong(0)
      readTable(s, root)
        .select("key", "status", "amount", "bucket")
        .withColumn("v2_sum_cents", lit(v2Sum))
        .withColumn("rename_cdc", lit(renameCdc))
        .withColumn("drop_cdc", lit(dropCdc))
        .orderBy("key")
    },
    s"""WITH $lifecycleFinCte,
       |v2 AS (
       |  SELECT CAST(sum(cents) AS BIGINT)
       |       + (SELECT CAST(count(*) * 100 AS BIGINT) FROM base
       |            WHERE key % 101 = 0)
       |       + (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT)
       |            FROM base WHERE key % 103 = 0) AS s
       |  FROM base)
       |SELECT key, status, cents AS amount,
       |       ${bucketSql("key")} AS bucket,
       |       (SELECT s FROM v2) AS v2_sum_cents,
       |       CAST(0 AS BIGINT) AS rename_cdc,
       |       CAST(0 AS BIGINT) AS drop_cdc
       |FROM fin ORDER BY key""".stripMargin)

  /** q186 — TYPE-WIDENING EVOLUTION acceptance (the Iceberg promotion
    * model, q170's stats machinery as harness): create the keyed
    * orders table with an INT `qty`, stripe-OPTIMIZE on it (int files
    * whose `#st=` bounds are long-encoded), WIDEN qty int→long — a
    * metadata commit ([[widenColumn]]: zero data writes, fingerprints
    * re-attested under the widened hash regime) — then land a batch
    * of BEYOND-int values (`key % 2003`), rewriting only those
    * buckets. Oracle-pinned probes ride every row: the widen window
    * is CDC-QUIET (`widen_cdc` = 0, the entry+tombstone fallback in
    * [[changedBuckets]]); TIME TRAVEL reads the pre-widen snapshot
    * under its own INT regime while the head scans LONG on the same
    * files (`v2_int` / `head_long`); and the INT-written stats bounds
    * still PRUNE under LONG predicates — a mid-range box plans
    * exactly the intersecting stripes plus the rewritten buckets'
    * (full-range) files, and a beyond-int probe plans ONLY the
    * rewritten buckets with exactly the new rows, both counts
    * re-derived by the oracle from the md5-bucket + stripe
    * arithmetic. At 100 TB the claim under gate is Iceberg's: type
    * evolution costs one metadata commit plus an attestation scan —
    * never a table rewrite — and loses no pruning. */
  private val q186TypeWidening = QueryDef(
    (s, dir) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft-q186").resolve("t").toString
      val base = Tables(s, dir, "orders").select(
        col("o_orderkey").as("key"),
        round(col("o_totalprice")).cast("int").as("qty"),
        col("o_orderstatus").as("status")).localCheckpoint(true)
      create(base, out, "key", hexDigits = 1)
      optimize(s, out, "qty",
        maxRecordsPerFile = Some(Q170_STRIPE)): Unit
      val vW = widenColumn(s, out, "qty", "bigint")
      val widenCdc = changes(s, out, vW - 1, vW).count()
      val v2Int = if (readTable(s, out, Some(vW - 1))
          .schema("qty").dataType ==
          org.apache.spark.sql.types.IntegerType) 1L else 0L
      upsert(s, out, base.filter(col("key") % 2003 === 0)
        .select(col("key"),
          (col("key").cast("long") * 1000000000L).as("qty"),
          col("status"))): Unit
      val head = readTable(s, out)
      val headLong = if (head.schema("qty").dataType ==
          org.apache.spark.sql.types.LongType) 1L else 0L
      graft.plans.StatsFilePruning.enable(s)
      val b0 = base.agg(min("qty"), max("qty")).collect().head
      val (mn, mx) = (b0.getInt(0).toLong, b0.getInt(1).toLong)
      val lo = mn + (mx - mn) * 7 / 16
      val hi = mn + (mx - mn) * 8 / 16
      val box = readTable(s, out)
        .filter(col("qty").between(lit(lo), lit(hi)))
      val dScanned = plannedDataFiles(box).size.toLong
      val beyond = readTable(s, out)
        .filter(col("qty") >= lit(2200000000L))
      val bScanned = plannedDataFiles(beyond).size.toLong
      val bRows = beyond.count()
      val filesTotal = readManifest(s, out,
        versions(s, out).last).size.toLong
      head.select("key", "status", "qty", "bucket")
        .withColumn("widen_cdc", lit(widenCdc))
        .withColumn("v2_int", lit(v2Int))
        .withColumn("head_long", lit(headLong))
        .withColumn("d_scanned", lit(dScanned))
        .withColumn("b_scanned", lit(bScanned))
        .withColumn("b_rows", lit(bRows))
        .withColumn("files_total", lit(filesTotal))
        .orderBy("key")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key,
       |         CAST(round(o_totalprice) AS INTEGER) AS qty,
       |         o_orderstatus AS status
       |  FROM orders),
       |g AS (SELECT base.*, ${bucketSql("key", 1)} AS bkt FROM base),
       |rew AS (SELECT DISTINCT bkt FROM g WHERE key % 2003 = 0),
       |bb AS (SELECT CAST(min(qty) AS BIGINT) AS mn,
       |              CAST(max(qty) AS BIGINT) AS mx FROM base),
       |bx AS (SELECT mn + ((mx - mn) * 7) // 16 AS lo,
       |              mn + ((mx - mn) * 8) // 16 AS hi FROM bb),
       |fs AS (SELECT g.*, ((row_number() OVER (PARTITION BY bkt
       |         ORDER BY qty, key)) - 1) // $Q170_STRIPE AS fid
       |       FROM g WHERE bkt NOT IN (SELECT bkt FROM rew)),
       |st AS (SELECT bkt, fid, min(qty) AS fmn, max(qty) AS fmx
       |       FROM fs GROUP BY bkt, fid),
       |fin AS (SELECT key, status,
       |               CASE WHEN key % 2003 = 0 THEN key * 1000000000
       |                    ELSE CAST(qty AS BIGINT) END AS qty,
       |               bkt FROM g),
       |rs AS (SELECT bkt, min(qty) AS fmn, max(qty) AS fmx FROM fin
       |       WHERE bkt IN (SELECT bkt FROM rew) GROUP BY bkt),
       |cnt AS (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM st, bx
       |     WHERE fmn <= hi AND fmx >= lo)
       |  + (SELECT CAST(count(*) AS BIGINT) FROM rs, bx
       |     WHERE fmn <= hi AND fmx >= lo) AS d_scanned,
       |  (SELECT CAST(count(*) AS BIGINT) FROM rs
       |     WHERE fmx >= 2200000000) AS b_scanned,
       |  (SELECT CAST(count(*) AS BIGINT) FROM fin
       |     WHERE qty >= 2200000000) AS b_rows,
       |  (SELECT CAST(count(*) AS BIGINT) FROM st)
       |  + (SELECT CAST(count(*) AS BIGINT) FROM rs) AS files_total)
       |SELECT key, status, qty, ${bucketSql("key", 1)} AS bucket,
       |       CAST(0 AS BIGINT) AS widen_cdc,
       |       CAST(1 AS BIGINT) AS v2_int,
       |       CAST(1 AS BIGINT) AS head_long,
       |       (SELECT d_scanned FROM cnt) AS d_scanned,
       |       (SELECT b_scanned FROM cnt) AS b_scanned,
       |       (SELECT b_rows FROM cnt) AS b_rows,
       |       (SELECT files_total FROM cnt) AS files_total
       |FROM fin ORDER BY key""".stripMargin)

  /** q162 — TAG + RESTORE acceptance: create the keyed orders table,
    * land a bad batch (batch1), pin v1 under an immutable tag, RESTORE
    * to the tag's version (a pure-metadata commit re-listing v1's
    * files — zero rows moved), and dump the live table: it must equal
    * the ORIGINAL base state row for row under the q140-family oracle
    * (bucket column included — silent file widening or a stale head
    * fails the hash). Three probes ride every row: the restored
    * version number, the tag resolution, and the row count of the
    * changefeed's 2→3 "undo" diff — the honest row-level price of the
    * rollback (batch1's updates revert + its inserts delete), which
    * the oracle re-derives from orders arithmetic. */
  private val q162TagRestore = QueryDef(
    (s, dir) => {
      val root = graft.core.Timing.build {
        val out = java.nio.file.Files
          .createTempDirectory("graft-q162").resolve("t").toString
        val base = baseRows(s, dir).localCheckpoint(true)
        create(base, out, "key")
        upsert(s, out, batch1(base)): Unit
        out
      }
      tag(s, root, "prerelease", Some(1L)): Unit
      val v = restore(s, root, tagVersion(s, root, "prerelease"))
      val undo = changes(s, root, 2L, v).count()
      readTable(s, root)
        .select("key", "cust", "status", "cents", "bucket")
        .withColumn("restored_v", lit(v))
        .withColumn("tag_v", lit(tagVersion(s, root, "prerelease")))
        .withColumn("undo_rows", lit(undo))
        .orderBy("key")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key, o_custkey AS cust,
       |         o_orderstatus AS status,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders)
       |SELECT key, cust, status, cents,
       |       ${bucketSql("key")} AS bucket,
       |       CAST(3 AS BIGINT) AS restored_v,
       |       CAST(1 AS BIGINT) AS tag_v,
       |       (SELECT CAST(count(*) FILTER (WHERE key % 101 = 0)
       |                  + count(*) FILTER (WHERE key % 103 = 0)
       |               AS BIGINT) FROM base) AS undo_rows
       |FROM base ORDER BY key""".stripMargin)

  /** q163 — CHECK constraint acceptance: declare `cents >= 0` on the
    * keyed orders table (existing data validates clean), attempt an
    * upsert whose batch drives a deterministic subset negative — the
    * write must be REJECTED ATOMICALLY (no version commits; the
    * in-query `require`s gate both the throw and the untouched version
    * list) — then apply a clean batch and dump the full final state:
    * the rejected batch must have left no trace, the accepted one all
    * of its rows. Probes riding every row: the violating-row count the
    * oracle re-derives from orders arithmetic, and the constraint
    * count. */
  private val q163CheckConstraint = QueryDef(
    (s, dir) => {
      val root = graft.core.Timing.build {
        val out = java.nio.file.Files
          .createTempDirectory("graft-q163").resolve("t").toString
        create(baseRows(s, dir).select("key", "cents", "status"), out,
          "key")
        out
      }
      addConstraint(s, root, "cents_nonneg", "cents >= 0")
      val t = readTable(s, root).select("key", "cents", "status")
      val badBatch = t.filter(col("key") % 11 === 0)
        .withColumn("cents", col("cents") - 10000000L)
      val nViol = badBatch.filter(col("cents") < 0).count()
      require(nViol > 0, "q163 fixture: the batch must carry violations")
      val rejected =
        try { upsert(s, root, badBatch); false }
        catch { case e: IllegalStateException
            if e.getMessage.contains("cents_nonneg") => true }
      require(rejected, "q163: the violating batch must be rejected")
      require(versions(s, root) == Seq(1L),
        "q163: a rejected batch must commit nothing")
      upsert(s, root, t.filter(col("key") % 13 === 0)
        .withColumn("cents", col("cents") + 7)): Unit
      readTable(s, root).select("key", "cents", "status")
        .withColumn("n_viol", lit(nViol))
        .withColumn("n_cons", lit(constraints(s, root).size.toLong))
        .orderBy("key")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
       |         o_orderstatus AS status
       |  FROM orders)
       |SELECT key,
       |       CASE WHEN key % 13 = 0 THEN cents + 7
       |            ELSE cents END AS cents,
       |       status,
       |       (SELECT CAST(count(*) AS BIGINT) FROM base
       |        WHERE key % 11 = 0 AND cents - 10000000 < 0) AS n_viol,
       |       CAST(1 AS BIGINT) AS n_cons
       |FROM base ORDER BY key""".stripMargin)

  /** Every [[org.apache.spark.sql.execution.FileSourceScanExec]] in a
    * physical plan, descending through AQE wrappers: an
    * AdaptiveSparkPlanExec is a LEAF to collect/collectLeaves (it
    * hides its subtree until execution), so a multi-scan plan — the
    * DV split is a union + anti-join — yields no scans to a naive
    * walk; the file-pruning gates need the scans the plan actually
    * scheduled (file listing is decided at planning, so reading the
    * adaptive plan's current physical tree pre-execution is exact). */
  private def collectFileScans(
      p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p.collect {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => collectFileScans(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(f)
    }.flatten

  /** The DISTINCT data-file paths a plan's scans schedule (tombstone
    * `_dvs/` parquet excluded — the gates price DATA file pruning). */
  private[graft] def plannedDataFiles(df: DataFrame): Seq[String] =
    collectFileScans(df.queryExecution.executedPlan)
      .flatMap(_.selectedPartitions
        .toPartitionArray.map(_.filePath.toString))
      .filter(_.contains("/data/v=")).distinct

  /** q181 — DV-AWARE POINT-LOOKUP PRUNING acceptance (q157's scale
    * property re-proven on a TOMBSTONE-CARRYING snapshot): create at
    * width 1, MOR-delete a key slice ([[deleteKeysMor]] — zero data
    * files touched, so the table reads through the DV split until
    * OPTIMIZE), then point-look-up the `key % 2003 = 0` slice — one
    * of whose keys was deliberately deleted — through BOTH paths.
    * The declarative path's EXECUTED PLAN must schedule exactly the
    * impacted buckets' data files (summed across the clean and dirty
    * scans — [[graft.plans.KeyToBucketPruning]]'s partition filter
    * now fires on both, because the DV read keeps `bucket` a real
    * string partition column), and [[readKeys]] must agree; the
    * oracle re-derives the file count from the same md5 arithmetic
    * (one live file per impacted bucket) and the rows prove the
    * deleted key stays dead through a pruned read. Before round 17
    * this was the one place MOR silently lost an already-won scale
    * property: the dirty scan's derived bucket was a data column and
    * every point lookup between a MOR write and the next OPTIMIZE
    * scanned the full snapshot. */
  private val q181MorPointLookup = QueryDef(
    (s, dir) => {
      val out = graft.core.Timing.build {
        val o = java.nio.file.Files.createTempDirectory("graft-q181")
          .resolve("table").toString
        create(baseRows(s, dir).localCheckpoint(true), o, "key",
          hexDigits = 1)
        o
      }
      val base = baseRows(s, dir)
      val ks: Seq[Long] = base.filter(col("key") % 2003 === 0)
        .select(col("key").cast("long"))
        .collect().map(_.getLong(0)).toSeq.sorted
      require(ks.nonEmpty, "q181 fixture: no lookup keys at this SF")
      // the smallest lookup key is deleted DELIBERATELY (a pruned read
      // must not resurrect it) — but only when another survives, so
      // the gate keeps result rows at every SF. The general %101 rule
      // exempts the lookup slice for the same reason: key 0 is both
      // %2003 and %101 at every SF, and at sf0.001 it is the ONLY
      // lookup key.
      val delExtra = if (ks.size > 1) Seq(ks.head) else Nil
      val delKeys = base
        .filter((col("key") % 101 === 0 && !(col("key") % 2003 === 0)) ||
          col("key").isin(delExtra: _*))
        .select(col("key").cast("long"))
      val st = deleteKeysMor(s, out, delKeys)
      require(st.rowsDeleted > 0 && st.dvFilesAdded > 0,
        s"q181 fixture: the MOR delete must tombstone rows, got $st")
      val det = detail(s, out).collect().head
      require(det.getAs[Long]("dv_tombstones") > 0L,
        "q181: the lookup must run against LIVE deletion vectors")
      graft.plans.KeyToBucketPruning.enable(s)
      val lookup = readTable(s, out)
        .filter(col("key").isin(ks: _*))
      val dataFiles = plannedDataFiles(lookup)
      require(dataFiles.nonEmpty,
        "q181: lookup did not plan a data-file scan")
      val man = readManifestFull(s, out, versions(s, out).last)
      val impacted = ks
        .map(k => graft.plans.KeyToBucketPruning.bucketOf(k.toString, 1))
        .toSet
      val expected = man.entries.count(e =>
        impacted.contains(bucketOfEntry(e)))
      require(dataFiles.size == expected,
        s"q181: the DV-aware point lookup planned ${dataFiles.size} " +
          s"data files, expected the $expected impacted-bucket files " +
          "— bucket pruning is not firing on the tombstone-carrying " +
          "snapshot")
      val filesApi = readKeys(s, out, ks).inputFiles
        .count(_.contains("/data/v=")).toLong
      lookup.select("key", "cust", "status", "cents", "bucket")
        .withColumn("files_scanned", lit(dataFiles.size.toLong))
        .withColumn("files_api", lit(filesApi))
        .orderBy("key")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key, o_custkey AS cust,
       |         o_orderstatus AS status,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |sel AS (SELECT * FROM base WHERE key % 2003 = 0),
       |del AS (SELECT key FROM base
       |        WHERE key % 101 = 0 AND key % 2003 <> 0
       |        UNION
       |        SELECT min(key) FROM sel HAVING count(*) > 1),
       |fb AS (SELECT CAST(count(DISTINCT ${bucketSql("key", 1)})
       |         AS BIGINT) AS n FROM sel)
       |SELECT key, cust, status, cents,
       |       ${bucketSql("key", 1)} AS bucket,
       |       (SELECT n FROM fb) AS files_scanned,
       |       (SELECT n FROM fb) AS files_api
       |FROM sel WHERE key NOT IN (SELECT key FROM del)
       |ORDER BY key""".stripMargin)

  /** q182 — DV/SMALL-EPOCH COMPACTION acceptance ([[compactDvs]] via
    * SQL `OPTIMIZE … COMPACT`): the q178 MOR lifecycle (create width
    * 1, two [[upsertMor]] batches — tombstones + two append epochs
    * per touched bucket) followed by one compaction, and the gate
    * pins the verb's whole contract:
    *  - CDC-FREE: [[changedBuckets]] across the compaction commit is
    *    EMPTY (the read-back fingerprints re-attested the manifest's,
    *    so a changefeed window straddling compaction prunes every
    *    bucket unread — cheaper than OPTIMIZE, which is merely
    *    row-free, not scan-free, across legacy buckets);
    *  - tombstones and DV files drop to ZERO and [[fsckDeep]] is
    *    clean;
    *  - the file arithmetic is oracle-pinned: files_before = the
    *    target buckets' base files plus each batch's appended files
    *    (all three terms md5-derivable), files_after = one file per
    *    target bucket, tombstones_purged = the two batches' matched
    *    rows; untouched clean buckets are NOT rewritten (the verb is
    *    O(dirty buckets), never a table rewrite);
    *  - the final STATE matches the q140/q178 lifecycle oracle
    *    verbatim — compaction changes layout, provably not content. */
  private val q182CompactDvs = QueryDef(
    (s, dir) => {
      val (out, base) = graft.core.Timing.build {
        val o = java.nio.file.Files.createTempDirectory("graft-q182")
          .resolve("table").toString
        val b = baseRows(s, dir).localCheckpoint(true)
        create(b, o, "key", hexDigits = 1)
        (o, b)
      }
      val st1 = upsertMor(s, out, batch1(base))
      val st2 = upsertMor(s, out, batch2(base))
      val preV = versions(s, out).last
      val preDet = detail(s, out).collect().head
      require(preDet.getAs[Long]("dv_tombstones") ==
        st1.rowsMatched + st2.rowsMatched,
        "q182 fixture: tombstones must equal the batches' matches")
      val row = s.sql(s"OPTIMIZE merge_table.`$out` COMPACT")
        .collect().head
      require(row.getLong(0) == preV + 1,
        s"q182: compaction must commit v${preV + 1}")
      require(changedBuckets(s, out, preV, row.getLong(0)).isEmpty,
        "q182: compaction must be CDC-free — every rewritten " +
          "bucket's read-back fingerprint re-attests the manifest's")
      val det = detail(s, out).collect().head
      require(det.getAs[Long]("dv_tombstones") == 0L &&
        det.getAs[Long]("dv_files") == 0L,
        "q182: compaction must purge every tombstone annotation")
      val man = readManifestFull(s, out, row.getLong(0))
      val perBucket = man.entries.groupBy(bucketOfEntry).values
        .map(_.size).toSet
      require(perBucket == Set(1),
        s"q182: every bucket must fold to one file, got $perBucket")
      val deep = fsckDeep(s, out)
      require(deep.mismatched.isEmpty && deep.unattested.isEmpty,
        s"q182: compacted fingerprints must re-attest: $deep")
      lifecycleState(s, out)
        .withColumn("files_before", lit(row.getLong(2)))
        .withColumn("files_after", lit(row.getLong(3)))
        .withColumn("tombstones_purged", lit(row.getLong(4)))
    },
    s"""WITH $lifecycleFinCte,
       |b1 AS (SELECT ${bucketSql("key", 1)} AS b FROM base
       |       WHERE key % 101 = 0
       |       UNION
       |       SELECT ${bucketSql("(-key - 1)", 1)} FROM base
       |       WHERE key % 103 = 0),
       |b2 AS (SELECT DISTINCT ${bucketSql("key", 1)} AS b FROM base
       |       WHERE key % 202 = 0),
       |tgt AS (SELECT DISTINCT b FROM (SELECT b FROM b1
       |        UNION ALL SELECT b FROM b2)),
       |fbefore AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM tgt)
       |         + (SELECT CAST(count(*) AS BIGINT) FROM b1)
       |         + (SELECT CAST(count(*) AS BIGINT) FROM b2) AS n),
       |purged AS (SELECT CAST(
       |         (SELECT count(*) FROM base WHERE key % 101 = 0)
       |       + (SELECT count(*) FROM base WHERE key % 202 = 0)
       |       AS BIGINT) AS n)
       |SELECT key, cust, status, cents,
       |       ${bucketSql("key", 1)} AS bucket,
       |       (SELECT n FROM fbefore) AS files_before,
       |       (SELECT CAST(count(*) AS BIGINT) FROM tgt) AS files_after,
       |       (SELECT n FROM purged) AS tombstones_purged
       |FROM fin ORDER BY key""".stripMargin)

  /** q188 — MAINTENANCE ADVISOR acceptance (q182's MOR fixture under
    * the policy engine): the lifecycle table takes two [[upsertMor]]
    * batches (tombstones + append epochs), the table DECLARES a
    * tombstone-ratio policy (`graft.maintenance.maxDvRatio=0.001` —
    * a per-table property, so the policy travels with the data), and
    * [[maintain]] executes exactly what [[maintenanceAdvice]] names.
    * Oracle-pinned probes ride every row: ONE advice
    * (`advice_actions`), its bucket list is EXACTLY the tombstoned
    * buckets (`advised_buckets` = distinct md5 buckets of the
    * matched keys — `key % 101`, which contains `key % 202`),
    * the fold purges exactly the two batches' matches
    * (`tombstones_purged`), and afterward the table is healthy: zero
    * tombstones, zero advice (`post_*`). Final contents equal the
    * lifecycle oracle row for row — maintenance moved no data. At
    * 100 TB the claim is the advisor's cost model: the walk is
    * O(manifest), the executed plan O(advised buckets), so policy
    * enforcement scales with the damage, not the table. */
  private val q188AutoMaintenance = QueryDef(
    (s, dir) => {
      val (out, base) = graft.core.Timing.build {
        val o = java.nio.file.Files.createTempDirectory("graft-q188")
          .resolve("table").toString
        val b = baseRows(s, dir).localCheckpoint(true)
        create(b, o, "key", hexDigits = 1)
        (o, b)
      }
      setProperties(s, out,
        Map("graft.maintenance.maxDvRatio" -> "0.001")): Unit
      val st1 = upsertMor(s, out, batch1(base))
      val st2 = upsertMor(s, out, batch2(base))
      val preTomb = detail(s, out).collect().head
        .getAs[Long]("dv_tombstones")
      require(preTomb == st1.rowsMatched + st2.rowsMatched,
        "q188 fixture: tombstones must equal the batches' matches")
      val advice = maintenanceAdvice(s, out)
      require(advice.map(_.action) == Seq("compact_dvs"),
        s"q188: expected one compact_dvs advice, got $advice")
      val ran = maintain(s, out)
      require(ran.size == 1 && ran.head._2 ==
          versions(s, out).last,
        "q188: maintain must commit the advised fold")
      val post = maintenanceAdvice(s, out)
      val det = detail(s, out).collect().head
      require(det.getAs[Long]("dv_tombstones") == 0L &&
          det.getAs[Long]("dv_files") == 0L,
        "q188: maintenance must leave the table clean")
      lifecycleState(s, out)
        .withColumn("advice_actions", lit(advice.size.toLong))
        .withColumn("advised_buckets",
          lit(advice.head.buckets.size.toLong))
        .withColumn("tombstones_purged", lit(preTomb))
        .withColumn("post_tombstones",
          lit(det.getAs[Long]("dv_tombstones")))
        .withColumn("post_advice", lit(post.size.toLong))
    },
    s"""WITH $lifecycleFinCte,
       |adv AS (SELECT CAST(count(DISTINCT ${bucketSql("key", 1)})
       |          AS BIGINT) AS nb FROM base WHERE key % 101 = 0),
       |purged AS (SELECT CAST(
       |         (SELECT count(*) FROM base WHERE key % 101 = 0)
       |       + (SELECT count(*) FROM base WHERE key % 202 = 0)
       |       AS BIGINT) AS n)
       |SELECT key, cust, status, cents,
       |       ${bucketSql("key", 1)} AS bucket,
       |       CAST(1 AS BIGINT) AS advice_actions,
       |       (SELECT nb FROM adv) AS advised_buckets,
       |       (SELECT n FROM purged) AS tombstones_purged,
       |       CAST(0 AS BIGINT) AS post_tombstones,
       |       CAST(0 AS BIGINT) AS post_advice
       |FROM fin ORDER BY key""".stripMargin)

  /** q183 — BLOOM CONTINUITY ACROSS MOR APPENDS: q177's bloomed,
    * cents-striped table takes an [[upsertMor]] batch (the two
    * smallest keys, cents bumped — one of them is the probe row
    * itself), and the gate pins that equality skipping SURVIVES the
    * merge-on-read write path: the append epoch's files carry blooms
    * written by the same commit (files_with_bloom == files, the
    * [[detail]] coverage metric, oracle-restated as stripes + appended
    * buckets), the probe still PRUNES (planned files < total, Scala
    * require), and the probe's result includes the UPDATED row riding
    * the append epoch — a bloom false negative on a fresh MOR file
    * would drop it, and the hash gate would catch the loss. */
  private val q183BloomMorContinuity = QueryDef(
    (s, dir) => {
      val out = graft.core.Timing.build {
        val o = java.nio.file.Files.createTempDirectory("graft-q183")
          .resolve("table").toString
        val base = baseRows(s, dir).localCheckpoint(true)
        create(base, o, "key", hexDigits = 1)
        o
      }
      s.sql(s"ALTER TABLE merge_table.`$out` SET TBLPROPERTIES " +
        s"('graft.bloom.columns' = 'cust', " +
        s"'graft.bloom.bits' = '$Q177_BITS')")
      s.sql(s"OPTIMIZE merge_table.`$out` SORT BY cents " +
        s"STRIPE $Q177_STRIPE")
      val base = baseRows(s, dir)
      val upd: Seq[Long] = base.select(col("key").cast("long"))
        .orderBy("key").limit(2)
        .collect().map(_.getLong(0)).toSeq
      val batch = base.filter(col("key").isin(upd: _*))
        .withColumn("cents", col("cents") + 50)
      val st = upsertMor(s, out, batch)
      require(st.rowsMatched == 2L && st.filesAppended >= 1L,
        s"q183 fixture: the MOR upsert must append an epoch, got $st")
      val det = detail(s, out).collect().head
      require(det.getAs[Long]("files_with_bloom") ==
        det.getAs[Long]("files"),
        "q183: the append epoch's files must carry blooms — coverage " +
          s"is ${det.getAs[Long]("files_with_bloom")} of " +
          s"${det.getAs[Long]("files")}")
      val probe = readKeys(s, out, Seq(upd.head))
        .select("cust").collect().head.getLong(0)
      graft.plans.StatsFilePruning.enable(s)
      val q = readTable(s, out).filter(col("cust") === probe)
      val scanned = plannedDataFiles(q).size.toLong
      val filesTotal = det.getAs[Long]("files")
      require(scanned > 0L && scanned < filesTotal,
        s"q183: the bloom must still skip files after the MOR append " +
          s"($scanned of $filesTotal)")
      q.select("key", "cust", "status", "cents")
        .withColumn("files_total", lit(filesTotal))
        .withColumn("files_with_bloom",
          lit(det.getAs[Long]("files_with_bloom")))
        .orderBy("key")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key, o_custkey AS cust,
       |         o_orderstatus AS status,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |upd AS (SELECT key FROM base ORDER BY key LIMIT 2),
       |pr AS (SELECT cust AS c FROM base
       |       WHERE key = (SELECT min(key) FROM upd)),
       |g AS (SELECT base.*, ${bucketSql("key", 1)} AS bkt FROM base),
       |f AS (SELECT *, ((row_number() OVER (PARTITION BY bkt
       |        ORDER BY cents, key)) - 1) // $Q177_STRIPE AS fid FROM g),
       |ft AS (SELECT CAST(count(*) AS BIGINT) AS n
       |       FROM (SELECT DISTINCT bkt, fid FROM f)),
       |ab AS (SELECT CAST(count(DISTINCT ${bucketSql("key", 1)})
       |         AS BIGINT) AS n FROM upd),
       |tot AS (SELECT (SELECT n FROM ft) + (SELECT n FROM ab) AS n)
       |SELECT key, cust, status,
       |       CASE WHEN key IN (SELECT key FROM upd)
       |            THEN cents + 50 ELSE cents END AS cents,
       |       (SELECT n FROM tot) AS files_total,
       |       (SELECT n FROM tot) AS files_with_bloom
       |FROM base, pr WHERE cust = c
       |ORDER BY key""".stripMargin)

  /** q184 — TIMESTAMP-TRAVEL MAINTENANCE ergonomics (`RESTORE … TO
    * TIMESTAMP AS OF` + `VACUUM … RETAIN <duration>`): on a fresh
    * lifecycle table, roll back to v1 BY TIMESTAMP through plain SQL
    * (the restore commits v4 re-listing v1's files — pure metadata),
    * then vacuum by DURATION twice — a 30-day window that must retain
    * everything, and a zero-minute window that must expire all but
    * the head. The stability pin closes ADVICE r16 #4: the head's
    * effective commit time, probed through [[versionAsOf]] BEFORE and
    * AFTER the expiry, resolves to the same version — in-commit
    * timestamps are persisted monotone at write time, so history
    * expiry can never shift an AS OF resolution. Rows: the restored
    * (= base) state with the restore/vacuum stats oracle-pinned. */
  private val q184TimestampMaintenance = QueryDef(
    (s, dir) => {
      val out = runLifecycle(s, dir, "q184")
      val t1 = commitTimes(s, out).head._2
      val iso = java.time.Instant.ofEpochMilli(t1).toString
      val r = s.sql(s"RESTORE merge_table.`$out` TO TIMESTAMP AS OF " +
        s"'$iso'").collect().head
      require(r.getLong(0) == 4L && r.getLong(1) == 1L,
        s"q184: the timestamp restore must commit v4 re-listing v1, " +
          s"got $r")
      val tHead = commitTimes(s, out).last._2
      require(versionAsOf(s, out, tHead) == 4L,
        "q184: the head's effective time must resolve to the head")
      val keepAll = s.sql(s"VACUUM merge_table.`$out` RETAIN 30 DAYS")
        .collect().head
      require(keepAll.getLong(2) == 0L && keepAll.getLong(3) == 4L,
        s"q184: a 30-day window must retain all 4 versions, got $keepAll")
      val expire = s.sql(s"VACUUM merge_table.`$out` RETAIN 0 MINUTES")
        .collect().head
      require(expire.getLong(2) == 3L && expire.getLong(3) == 1L,
        s"q184: a zero-minute window must keep only the head, got $expire")
      require(versionAsOf(s, out, tHead) == 4L,
        "q184: history expiry must not shift AS OF resolution — the " +
          "persisted in-commit timestamps are monotone, so the head's " +
          "effective time is stable under vacuum")
      readTable(s, out)
        .select("key", "cust", "status", "cents", "bucket")
        .withColumn("restored_version", lit(r.getLong(1)))
        .withColumn("new_version", lit(r.getLong(0)))
        .withColumn("versions_kept_time", lit(keepAll.getLong(3)))
        .withColumn("versions_kept_expire", lit(expire.getLong(3)))
        .orderBy("key")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key, o_custkey AS cust,
       |         o_orderstatus AS status,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders)
       |SELECT key, cust, status, cents,
       |       ${bucketSql("key")} AS bucket,
       |       CAST(1 AS BIGINT) AS restored_version,
       |       CAST(4 AS BIGINT) AS new_version,
       |       CAST(4 AS BIGINT) AS versions_kept_time,
       |       CAST(1 AS BIGINT) AS versions_kept_expire
       |FROM base ORDER BY key""".stripMargin)

  /** Stripe size for the q185 instrument — q164's shape: several
    * stripe files per bucket at sf0.01 so the fold has real layout to
    * reconstruct and the range probe real files to skip. */
  private val Q185_STRIPE = 256L

  /** q185 — LAYOUT-DECLARED COMPACTION acceptance: a full-table
    * `OPTIMIZE … SORT BY cents STRIPE n` DECLARES the layout as
    * versioned properties; one [[upsertMor]] batch then dirties the
    * %97 buckets (tombstone + append epoch), and [[compactDvs]] must
    * RECONSTRUCT the declared layout for exactly those buckets —
    * sorted stripes, not a flat fold — while re-listing every clean
    * bucket verbatim. The gate pins all of it against the oracle's
    * own re-derivation over the FINAL state (rank per md5-bucket by
    * (cents, key), chunk at the stripe size — one model covers both
    * the untouched stripes, whose buckets hold no %97 key and so kept
    * their values, and the reconstructed ones):
    *  - files_total = Σ per bucket ceil(rows/stripe) — the fold
    *    re-striped, it did not flatten;
    *  - files_scanned for a center cents-band through the PLAIN
    *    DataFrame read = the stripe-overlap count — value-predicate
    *    file skipping SURVIVES the MOR write + compaction round-trip
    *    (before this round the fold unsorted the bucket and the model
    *    would overcount);
    *  - the band's ROWS ride the pruned plan — a stripe wrongly
    *    skipped fails the hash gate;
    *  - in-fixture: the compaction is CDC-free, purges every
    *    tombstone, and fsckDeep re-attests. */
  private val q185LayoutCompaction = QueryDef(
    (s, dir) => {
      val (out, base) = graft.core.Timing.build {
        val o = java.nio.file.Files.createTempDirectory("graft-q185")
          .resolve("table").toString
        val b = baseRows(s, dir).localCheckpoint(true)
        create(b, o, "key", hexDigits = 1)
        (o, b)
      }
      s.sql(s"OPTIMIZE merge_table.`$out` SORT BY cents " +
        s"STRIPE $Q185_STRIPE")
      require(properties(s, out) == Map(
        "graft.layout.sort" -> "cents",
        "graft.layout.stripe" -> Q185_STRIPE.toString),
        "q185: a full optimize must declare the table's layout")
      val batch = base.filter(col("key") % 97 === 0)
        .withColumn("cents", col("cents") + lit(7L))
      val st = upsertMor(s, out, batch)
      require(st.rowsMatched > 0L && st.filesAppended >= 1L,
        s"q185 fixture: the MOR upsert must append an epoch, got $st")
      val preV = versions(s, out).last
      val cst = compactDvs(s, out)
      require(cst.bucketsCompacted > 0L && cst.tombstonesPurged ==
        st.rowsMatched,
        s"q185: the fold must purge exactly the batch's tombstones: $cst")
      require(changedBuckets(s, out, preV, cst.version).isEmpty,
        "q185: layout reconstruction must stay CDC-free — the " +
          "re-sort cannot move the order-independent fingerprints")
      val det = detail(s, out).collect().head
      require(det.getAs[Long]("dv_tombstones") == 0L,
        "q185: compaction must purge every tombstone annotation")
      val deep = fsckDeep(s, out)
      require(deep.mismatched.isEmpty && deep.unattested.isEmpty,
        s"q185: reconstructed fingerprints must re-attest: $deep")
      val filesTotal = readManifest(s, out, versions(s, out).last)
        .size.toLong
      val b = readTable(s, out).agg(min("cents"), max("cents"))
        .collect().head
      val (mny, mxy) = (b.getLong(0), b.getLong(1))
      val (y1, y2) = (mny + (mxy - mny) * 7 / 16,
        mny + (mxy - mny) * 9 / 16)
      graft.plans.StatsFilePruning.enable(s)
      val q = readTable(s, out).filter(col("cents").between(y1, y2))
      val scanned = plannedDataFiles(q).size.toLong
      // strict skipping only when buckets actually hold >1 stripe (at
      // the sf0.001 smoke scale each bucket is one stripe and the
      // band overlaps every file); the ORACLE pin enforces the exact
      // overlap count at every SF regardless
      require(scanned > 0L && (filesTotal <= 16L || scanned < filesTotal),
        s"q185: the reconstructed stripes must skip files " +
          s"($scanned of $filesTotal)")
      q.select("key", "cust", "status", "cents")
        .withColumn("files_scanned", lit(scanned))
        .withColumn("files_total", lit(filesTotal))
        .orderBy("key")
    },
    s"""WITH base AS (
       |  SELECT o_orderkey AS key, o_custkey AS cust,
       |         o_orderstatus AS status,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |fin AS (SELECT key, cust, status,
       |          CASE WHEN key % 97 = 0 THEN cents + 7
       |               ELSE cents END AS cents
       |        FROM base),
       |bb AS (SELECT min(cents) AS mny, max(cents) AS mxy FROM fin),
       |p AS (SELECT mny + ((mxy - mny) * 7) // 16 AS y1,
       |             mny + ((mxy - mny) * 9) // 16 AS y2 FROM bb),
       |g AS (SELECT fin.*, ${bucketSql("key", 1)} AS bkt FROM fin),
       |f AS (SELECT *, ((row_number() OVER (PARTITION BY bkt
       |        ORDER BY cents, key)) - 1) // $Q185_STRIPE AS fid FROM g),
       |st AS (SELECT bkt, fid, min(cents) AS fmn, max(cents) AS fmx
       |       FROM f GROUP BY bkt, fid),
       |cnt AS (SELECT
       |    CAST(sum(CASE WHEN fmn <= y2 AND fmx >= y1
       |      THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       |    CAST(count(*) AS BIGINT) AS files_total
       |  FROM st, p)
       |SELECT key, cust, status, cents,
       |       (SELECT files_scanned FROM cnt) AS files_scanned,
       |       (SELECT files_total FROM cnt) AS files_total
       |FROM fin, p
       |WHERE cents BETWEEN y1 AND y2
       |ORDER BY key""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q148_table_fsck" -> q148TableFsck,
    "q185_layout_compaction" -> q185LayoutCompaction,
    "q140_cow_upsert" -> q140CowUpsert,
    "q141_cow_amplification" -> q141CowAmplification,
    "q142_time_travel" -> q142TimeTravel,
    "q143_vacuum_cost" -> q143VacuumCost,
    "q144_changefeed" -> q144Changefeed,
    "q146_optimize_invariance" -> q146OptimizeInvariance,
    "q150_rebucket_migration" -> q150RebucketMigration,
    "q151_zorder_optimize" -> q151ZorderOptimize,
    "q153_layout_cdc" -> q153LayoutCdc,
    "q155_rebucket_cdc" -> q155RebucketCdc,
    "q156_fsck_deep" -> q156FsckDeep,
    "q157_point_lookup" -> q157PointLookup,
    "q159_sql_table" -> q159SqlTable,
    "q160_sql_changes" -> q160SqlChanges,
    "q161_merge_clauses" -> q161MergeClauses,
    "q162_tag_restore" -> q162TagRestore,
    "q163_check_constraint" -> q163CheckConstraint,
    "q164_stats_pruning" -> q164StatsPruning,
    "q170_typed_stats_pruning" -> q170TypedStats,
    "q172_sql_maintenance" -> q172SqlMaintenance,
    "q173_sql_insert" -> q173SqlInsert,
    "q174_scoped_optimize" -> q174ScopedOptimize,
    "q175_sql_lifecycle" -> q175SqlLifecycle,
    "q176_deletion_vectors" -> q176DeletionVectors,
    "q177_bloom_pruning" -> q177BloomPruning,
    "q178_mor_lifecycle" -> q178MorLifecycle,
    "q179_timestamp_travel" -> q179TimestampTravel,
    "q180_mor_merge" -> q180MorMerge,
    "q181_mor_point_lookup" -> q181MorPointLookup,
    "q182_compact_dvs" -> q182CompactDvs,
    "q183_bloom_mor_continuity" -> q183BloomMorContinuity,
    "q184_timestamp_maintenance" -> q184TimestampMaintenance,
    "q166_sql_merge_dml" -> q166SqlMergeDml,
    "q168_schema_evolution" -> q168SchemaEvolution,
    "q169_sql_update_delete" -> q169SqlUpdateDelete,
    "q186_type_widening" -> q186TypeWidening,
    "q188_auto_maintenance" -> q188AutoMaintenance,
  )
}

package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParameterContext,
  ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, LongType, StructType}

import graft.ext.MergeTable

/** SQL MAINTENANCE statements for the snapshot table — the Delta
  * operational idiom, parsed by a thin delegating parser (Spark's
  * grammar has no OPTIMIZE/VACUUM productions to hook, so the
  * extension recognizes exactly these two statement shapes and hands
  * everything else to the real parser untouched):
  *
  * {{{
  * CREATE MERGE_TABLE `/dir` KEY keyCol [BUCKETS n] AS SELECT …
  * OPTIMIZE merge_table.`/dir` [WHERE bucket IN ('0a', …)] SORT BY col [STRIPE n]
  * OPTIMIZE merge_table.`/dir` [WHERE bucket IN ('0a', …)] ZORDER BY (xCol, yCol) [STRIPE n]
  * OPTIMIZE merge_table.`/dir` [WHERE bucket IN ('0a', …)] COMPACT [MAX FILES n]
  * VACUUM merge_table.`/dir` RETAIN n {VERSIONS | MINUTES | HOURS | DAYS}
  * RESTORE merge_table.`/dir` TO VERSION AS OF n
  * RESTORE merge_table.`/dir` TO TIMESTAMP AS OF '2026-08-16T01:00:00Z'
  * }}}
  *
  * Each routes to the SAME engine verb the API exposes ([[MergeTable
  * .optimize]], [[MergeTable.optimizeZOrder]], [[MergeTable.vacuum]])
  * and returns its stats as one row, so a SQL-only operator can run
  * the whole maintenance story: stripe a table for stats pruning,
  * reclaim history, all under the engine's snapshot-commit protocol.
  * `STRIPE n` caps records per file (z/sort striping — the unit
  * [[StatsFilePruning]] skips); `RETAIN n VERSIONS` maps to
  * retainVersions and is MANDATORY (a bare VACUUM is rejected with
  * guidance: the syntax is Delta's but the semantics expire whole
  * versions, so no default is safe to borrow). VACUUM uses the
  * engine's default file grace; the aggressive `minFileAgeMs = 0`
  * single-writer waiver stays API-only (a SQL statement should not
  * carry the footgun).
  *
  * Recognition is conservative: the statement must match the shape
  * END-TO-END (anchored regex over the whole text) or it is delegated
  * — a table named `optimize` or a column named `vacuum` parses
  * exactly as before.
  *
  * Every other statement is parsed by the delegate, and a plan whose
  * top is a `merge_table` key lookup comes back as the prepared leaf
  * ([[PreparedLookup]], resolved to a [[MergeTableLookup]] in
  * analysis); the match reads the parsed plan, not the text, and does
  * no I/O. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  // optional partition scope, the Delta `OPTIMIZE … WHERE` position:
  // `WHERE bucket IN ('0a', '3f', …)` — the table's partition column
  // is the hash bucket, so the scope is a bucket-id list
  private val WhereRe =
    """(?:\s+WHERE\s+bucket\s+IN\s*\(([^)]*)\))?"""
  private val OptimizeSort =
    ("""(?is)\s*OPTIMIZE\s+merge_table\s*\.\s*`([^`]+)`""" + WhereRe +
      """\s+SORT\s+BY\s+([A-Za-z_][A-Za-z0-9_]*)""" +
      """(?:\s+STRIPE\s+(\d+))?\s*;?\s*""").r
  // the column list generalizes to N dimensions (2..7 — the
  // engine's n-ary round-robin curve, optimizeZOrderN)
  private val OptimizeZ =
    ("""(?is)\s*OPTIMIZE\s+merge_table\s*\.\s*`([^`]+)`""" + WhereRe +
      """\s+ZORDER\s+BY\s*\(\s*([A-Za-z_][A-Za-z0-9_,\s]*)\s*\)""" +
      """(?:\s+STRIPE\s+(\d+))?\s*;?\s*""").r

  /** Parse the WHERE bucket IN list: quoted ids, comma-separated. A
    * matched-but-malformed list is a loud error, not a delegation —
    * the statement already committed to the OPTIMIZE shape. */
  private def scopeOf(group: String): Option[Seq[String]] =
    Option(group).map { g =>
      val ids = g.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      require(ids.nonEmpty,
        "OPTIMIZE … WHERE bucket IN () names no buckets")
      ids.map { s =>
        require(s.length >= 3 &&
          (s.head == '\'' || s.head == '"') && s.last == s.head,
          s"bucket ids must be quoted string literals, got: $s")
        s.substring(1, s.length - 1)
      }
    }
  // COMPACT — the merge-on-read maintenance verb (deletion-vector
  // materialization + small-epoch folding, no re-sort): routes to
  // [[MergeTable.compactDvs]]; MAX FILES caps the per-bucket file
  // count a bucket may keep before it is folded (default 1)
  private val OptimizeCompact =
    ("""(?is)\s*OPTIMIZE\s+merge_table\s*\.\s*`([^`]+)`""" + WhereRe +
      """\s+COMPACT(?:\s+MAX\s+FILES\s+(\d+))?\s*;?\s*""").r
  private val Vacuum =
    """(?is)\s*VACUUM\s+merge_table\s*\.\s*`([^`]+)`
      |(?:\s+RETAIN\s+(\d+)\s+(VERSIONS?|MINUTES?|HOURS?|DAYS?))?\s*;?\s*"""
      .stripMargin.replace("\n", "").r
  // RESTORE — Delta's rollback muscle memory, both dialects: a
  // version number or a timestamp resolved through the strictly
  // monotone effective commit times (pre-history refuses loudly)
  private val RestoreVersion =
    ("""(?is)\s*RESTORE\s+merge_table\s*\.\s*`([^`]+)`\s+TO\s+""" +
      """VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""").r
  private val RestoreTimestamp =
    ("""(?is)\s*RESTORE\s+merge_table\s*\.\s*`([^`]+)`\s+TO\s+""" +
      """TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""").r
  // the CREATE verb completes the SQL-only lifecycle (create → INSERT
  // → MERGE/UPDATE/DELETE → OPTIMIZE/VACUUM → merge_table() reads):
  // `CREATE MERGE_TABLE` cannot collide with Spark's grammar (CREATE
  // there is always followed by TABLE/VIEW/etc., and a table NAMED
  // merge_table arrives as `CREATE TABLE merge_table …`, which this
  // anchor does not match). The trailing query text is handed to the
  // DELEGATE parser, so the full SELECT grammar applies untouched.
  private val CreateTable =
    """(?is)\s*CREATE\s+MERGE_TABLE\s+`([^`]+)`\s+KEY\s+
      |([A-Za-z_][A-Za-z0-9_]*)(?:\s+BUCKETS\s+(\d+))?\s+AS\s+(.+?);?\s*"""
      .stripMargin.replace("\n", "").r
  // table properties — versioned metadata-only commits (`#prop=`
  // manifest lines): the knob surface writers consult for routing
  // (e.g. 'graft.deletes.mode' = 'mor' switches SQL DELETE to
  // deletion vectors). Spark's own grammar only reaches these verbs
  // for CATALOG tables; the path-addressed snapshot table needs its
  // own productions.
  private val SetProps =
    ("""(?is)\s*ALTER\s+TABLE\s+merge_table\s*\.\s*`([^`]+)`\s+""" +
      """SET\s+TBLPROPERTIES\s*\(([^)]*)\)\s*;?\s*""").r
  private val UnsetProps =
    ("""(?is)\s*ALTER\s+TABLE\s+merge_table\s*\.\s*`([^`]+)`\s+""" +
      """UNSET\s+TBLPROPERTIES\s*\(([^)]*)\)\s*;?\s*""").r
  private val ShowProps =
    """(?is)\s*SHOW\s+TBLPROPERTIES\s+merge_table\s*\.\s*`([^`]+)`\s*;?\s*""".r
  // TYPE WIDENING as SQL — the Iceberg `ALTER COLUMN … TYPE` dialect;
  // routes to MergeTable.widenColumn (promotion table enforced there)
  private val WidenCol =
    ("""(?is)\s*ALTER\s+TABLE\s+merge_table\s*\.\s*`([^`]+)`\s+""" +
      """ALTER\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+TYPE\s+""" +
      """([A-Za-z0-9_(),\s]+?)\s*;?\s*""").r
  private val PropPair = """'([^']*)'\s*=\s*'([^']*)'""".r
  private val PropKey = """'([^']*)'""".r

  /** Parse a TBLPROPERTIES body: `'k' = 'v', …` (SET) or `'k', …`
    * (UNSET). Matched-but-malformed is a loud error — the statement
    * already committed to the shape. */
  private def propsOf(body: String): Map[String, String] = {
    val pairs = PropPair.findAllMatchIn(body).map(m =>
      m.group(1) -> m.group(2)).toSeq
    val residue = PropPair.replaceAllIn(body, "")
      .replaceAll("[,\\s]", "")
    require(pairs.nonEmpty && residue.isEmpty,
      "SET TBLPROPERTIES takes ('key' = 'value', …) with " +
        s"single-quoted literals; could not parse: $body")
    pairs.toMap
  }
  private def propKeysOf(body: String): Seq[String] = {
    val keys = PropKey.findAllMatchIn(body).map(_.group(1)).toSeq
    val residue = PropKey.replaceAllIn(body, "")
      .replaceAll("[,\\s]", "")
    require(keys.nonEmpty && residue.isEmpty,
      "UNSET TBLPROPERTIES takes ('key', …) with single-quoted " +
        s"literals; could not parse: $body")
    keys
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    statement(sqlText).getOrElse(
      PreparedLookup.prepare(delegate.parsePlan(sqlText)))

  /** The entry point `spark.sql` calls: parameters stay the
    * delegate's to bind. */
  override def parsePlanWithParameters(sqlText: String,
      params: ParameterContext): LogicalPlan =
    statement(sqlText).getOrElse(PreparedLookup.prepare(
      delegate.parsePlanWithParameters(sqlText, params)))

  /** One of this parser's own statements, or None. */
  private def statement(sqlText: String): Option[LogicalPlan] =
    Some(sqlText match {
    case OptimizeSort(dir, where, col, stripe) =>
      GraftOptimizeCommand(dir, Left(col),
        Option(stripe).map(_.toLong), scopeOf(where))
    case OptimizeZ(dir, where, cols, stripe) =>
      val cs = cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      require(cs.size >= 2,
        s"OPTIMIZE ... ZORDER BY takes at least two columns, got: $cols")
      GraftOptimizeCommand(dir, Right(cs),
        Option(stripe).map(_.toLong), scopeOf(where))
    case OptimizeCompact(dir, where, maxFiles) =>
      GraftCompactCommand(dir,
        Option(maxFiles).map(_.toInt).getOrElse(1), scopeOf(where))
    case Vacuum(dir, retain, unit) =>
      // RETAIN is MANDATORY in the SQL form: the statement borrows
      // Delta's VACUUM syntax but not its semantics (Delta's sweeps
      // stale files inside a retention window and never drops table
      // versions; this one expires whole versions), so a bare VACUUM
      // defaulting to RETAIN 1 would silently erase all time travel
      // for an operator expecting Delta's safe file sweep.
      if (retain == null)
        throw new IllegalArgumentException(
          "VACUUM merge_table requires an explicit retention: " +
            "`VACUUM merge_table.`<dir>` RETAIN n VERSIONS` (or " +
            "MINUTES/HOURS/DAYS for a time window over the in-commit " +
            "timestamps) — unlike Delta's VACUUM, this statement " +
            "EXPIRES table versions past the retention window; " +
            "RETAIN 1 VERSIONS keeps only the head")
      else unit.toUpperCase match {
        case u if u.startsWith("VERSION") =>
          GraftVacuumCommand(dir, Left(retain.toInt))
        case u =>
          val perUnit =
            if (u.startsWith("MINUTE")) 60L * 1000
            else if (u.startsWith("HOUR")) 3600L * 1000
            else 24L * 3600 * 1000
          GraftVacuumCommand(dir, Right(retain.toLong * perUnit))
      }
    case RestoreVersion(dir, v) =>
      GraftRestoreCommand(dir, Left(v.toLong))
    case RestoreTimestamp(dir, ts) =>
      GraftRestoreCommand(dir, Right(ts))
    case CreateTable(dir, key, buckets, query) =>
      val hex = Option(buckets).map { b =>
        val n = b.toLong
        val h = (math.log(n.toDouble) / math.log(16.0)).round.toInt
        require(h >= 1 && h <= 8 && (1L << (4 * h)) == n,
          s"BUCKETS must be a power of 16 between 16 and 16^8 " +
            s"(the md5-hex bucket widths), got $n")
        h
      }
      GraftCreateTableCommand(dir, key, hex,
        new CapturedPlan(delegate.parseQuery(query)))
    case SetProps(dir, body) =>
      GraftPropertiesCommand(dir, set = propsOf(body), unset = Nil)
    case UnsetProps(dir, body) =>
      GraftPropertiesCommand(dir, set = Map.empty,
        unset = propKeysOf(body))
    case ShowProps(dir) => GraftShowPropertiesCommand(dir)
    case WidenCol(dir, column, tpe) =>
      GraftWidenColumnCommand(dir, column, tpe.trim)
    case _ => return None
  })

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** `OPTIMIZE merge_table.`/dir`` — SORT BY (single-column clustering,
  * striped when STRIPE is given) or ZORDER BY (two-dimensional curve
  * clustering), optionally scoped to a bucket list (`WHERE bucket IN
  * (…)` — incremental compaction; out-of-scope files are re-listed,
  * never rewritten). One row of [[MergeTable.CowStats]] back. */
final case class GraftOptimizeCommand(dir: String,
    by: Either[String, Seq[String]],
    stripe: Option[Long],
    scope: Option[Seq[String]] = None) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("files_read", LongType)(),
    AttributeReference("files_written", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val st = by match {
      case Left(c) =>
        MergeTable.optimize(spark, dir, c, maxRecordsPerFile = stripe,
          buckets = scope)
      case Right(zCols) =>
        MergeTable.optimizeZOrderN(spark, dir, zCols,
          maxRecordsPerFile = stripe, buckets = scope)
    }
    Seq(Row(st.version, st.filesRead, st.filesWritten))
  }
}

/** Opaque carrier for a delegate-parsed query plan: a plain class so
  * the command's product-derived children/expressions stay empty and
  * the analyzer neither walks nor re-resolves the captured tree (the
  * [[CapturedMerge]] discipline). */
final class CapturedPlan(val plan: LogicalPlan) extends Serializable

/** `CREATE MERGE_TABLE `/dir`` KEY keyCol [BUCKETS n] AS <query>` —
  * the SQL table-creation verb: runs the delegate-parsed query and
  * hands its result to [[MergeTable.create]] (key declaration,
  * md5-hex bucketing at the given width, version-1 manifest commit).
  * BUCKETS takes the bucket COUNT (a power of 16 — the md5-hex width
  * model); omitted = the engine default. Reserved layout column
  * names, a missing key column, or an already-created dir all fail
  * with the engine's own loud errors. One row back:
  * (version, files_written). */
final case class GraftCreateTableCommand(dir: String, key: String,
    hexDigits: Option[Int], captured: CapturedPlan)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("files_written", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val df = org.apache.spark.sql.graft.Bridge.ofRows(spark,
      captured.plan)
    hexDigits match {
      case Some(h) => MergeTable.create(df, dir, key, h)
      case None => MergeTable.create(df, dir, key)
    }
    val files = MergeTable.readTable(spark, dir).inputFiles.length.toLong
    Seq(Row(1L, files))
  }
}

/** `ALTER TABLE merge_table.`/dir`` SET/UNSET TBLPROPERTIES (…)` —
  * one versioned metadata-only commit through
  * [[MergeTable.setProperties]]/[[MergeTable.unsetProperties]].
  * One row back: the committed version. */
final case class GraftPropertiesCommand(dir: String,
    set: Map[String, String], unset: Seq[String])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val v =
      if (set.nonEmpty) MergeTable.setProperties(spark, dir, set)
      else MergeTable.unsetProperties(spark, dir, unset)
    Seq(Row(v))
  }
}

/** `ALTER TABLE merge_table.`/dir`` ALTER COLUMN c TYPE t` — the
  * TYPE-WIDENING promotion as SQL ([[MergeTable.widenColumn]]: int
  * family → long, float → double, decimal precision growth at the
  * same scale) — a metadata commit plus the fingerprint
  * re-attestation scan; old files upcast at scan, new epochs store
  * the wide type. One row back: the committed version. */
final case class GraftWidenColumnCommand(dir: String, column: String,
    target: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(MergeTable.widenColumn(spark, dir, column, target)))
}

/** `SHOW TBLPROPERTIES merge_table.`/dir`` — the head snapshot's
  * property map, one (key, value) row each, key-sorted. */
final case class GraftShowPropertiesCommand(dir: String)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", org.apache.spark.sql.types.StringType)(),
    AttributeReference("value", org.apache.spark.sql.types.StringType)())

  override def run(spark: SparkSession): Seq[Row] =
    MergeTable.properties(spark, dir).toSeq.sortBy(_._1)
      .map { case (k, v) => Row(k, v) }
}

/** `VACUUM merge_table.`/dir` RETAIN n {VERSIONS|MINUTES|HOURS|DAYS}`
  * — expire history past the retention window (tag-pinned versions
  * always retained) and sweep unreferenced files under the engine's
  * default grace. A count retains that many versions; a duration
  * retains every version whose effective in-commit timestamp falls
  * inside the window ([[MergeTable.vacuumRetainTime]] — the Delta
  * RETAIN-hours dialect over version-expiry semantics). */
final case class GraftVacuumCommand(dir: String,
    retain: Either[Int, Long]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_deleted", LongType)(),
    AttributeReference("files_live", LongType)(),
    AttributeReference("versions_dropped", LongType)(),
    AttributeReference("versions_kept", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val st = retain match {
      case Left(n) => MergeTable.vacuum(spark, dir, n)
      case Right(ms) => MergeTable.vacuumRetainTime(spark, dir, ms)
    }
    Seq(Row(st.filesDeleted, st.filesLive, st.versionsDropped,
      st.versionsLive))
  }
}

/** `OPTIMIZE merge_table.`/dir` [WHERE …] COMPACT [MAX FILES n]` —
  * merge-on-read maintenance: materialize deletion vectors and fold
  * accumulated append epochs, per bucket, without a layout re-sort
  * ([[MergeTable.compactDvs]] — fingerprint-attested, CDC-free). */
final case class GraftCompactCommand(dir: String, maxFiles: Int,
    scope: Option[Seq[String]] = None) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("buckets_compacted", LongType)(),
    AttributeReference("files_before", LongType)(),
    AttributeReference("files_after", LongType)(),
    AttributeReference("tombstones_purged", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val st = MergeTable.compactDvs(spark, dir, maxFiles, scope)
    Seq(Row(st.version, st.bucketsCompacted, st.filesBefore,
      st.filesAfter, st.tombstonesPurged))
  }
}

/** `RESTORE merge_table.`/dir` TO {VERSION|TIMESTAMP} AS OF …` — the
  * pure-metadata rollback ([[MergeTable.restore]]); the timestamp
  * dialect resolves through the strictly monotone effective commit
  * times and refuses pre-history loudly. One row back: the NEW
  * version committed and the version it restored. */
final case class GraftRestoreCommand(dir: String,
    to: Either[Long, String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("restored_version", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val target = to match {
      case Left(v) => v
      case Right(ts) => MergeTable.versionAsOf(spark, dir,
        MergeTable.parseTsMillis(ts))
    }
    val v = MergeTable.restore(spark, dir, target)
    Seq(Row(v, target))
  }
}

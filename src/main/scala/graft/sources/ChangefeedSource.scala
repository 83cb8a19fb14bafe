package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ext.MergeTable

/** STREAMING CDC SOURCE over the snapshot table's changefeed: offsets
  * ARE table versions, each micro-batch is `changes(from, to]` — the
  * Delta `readChangeFeed` stream shape, and the streaming-native form
  * of [[graft.ingest.ChangefeedRunner]]'s cursor discipline (itself
  * the reference's resume-cursor idiom,
  * src/extract_github_data.py:164-235). Downstream maintainers
  * ([[graft.streaming.IvmStream]], [[graft.streaming.RollupStream]])
  * subscribe directly instead of being runner-polled, and exactly-once
  * falls out of Structured Streaming's offset log: a version range,
  * once committed to the checkpoint, is never re-delivered, and a
  * replayed uncommitted range re-reads the SAME immutable snapshots —
  * the manifests are the version history, so redelivery is
  * deterministic by construction.
  *
  * DSv2 SHAPE (round 16): the source is a
  * TableProvider → Table → Scan → [[ChangefeedMicroBatchStream]] — the
  * same connector stack as [[RepoListSource]], replacing the
  * deprecated V1 `Source`/`StreamSourceProvider` pair. A changefeed
  * batch is a COMPUTED relation (two file lists diffed through a
  * full-outer join), which no per-partition reader can express
  * directly, so each planned range is STAGED once as parquet under the
  * stream's own checkpoint directory and partition planning + reading
  * DELEGATE to Spark's own DSv2 parquet batch — executors read the
  * staged files with the built-in vectorized reader, so a large batch
  * distributes like any parquet scan instead of riding the driver.
  * Staging is exactly-once-safe by construction: the staged directory
  * is keyed by its version range, a replayed range reuses it
  * (`_SUCCESS`-gated) or deterministically recomputes it from the same
  * immutable snapshots, and [[ChangefeedMicroBatchStream.commit]]
  * sweeps ranges at or below the committed frontier, so the staging
  * footprint is bounded by in-flight batches (the V1 source's
  * driver-cache discipline, now on disk and distributed).
  *
  * Everything the batch changefeed earned rides along per micro-batch:
  * fingerprint-pruned bucket diffs, the layout-only short-circuit (a
  * window straddling OPTIMIZE or rebucket yields a ZERO-ROW batch for
  * two manifest reads), and schema-evolution alignment.
  *
  * `initialVersion` pins the bootstrap snapshot: the first batch reads
  * `(initialVersion, latest]`, so a consumer initialized from version
  * V's snapshot passes V and never double-counts the bootstrap
  * (default: the newest committed version when the source is created —
  * "changes from now on"). It takes a version number or a tag name,
  * as `merge_table` does. RETENTION contract, loud: vacuum must
  * retain any version still unconsumed by the stream's checkpoint —
  * [[MergeTable.changes]] on a vacuumed endpoint names the missing
  * version rather than silently skipping rows. `pinFrontier=true`
  * automates the knob: the source maintains a TAG at its committed
  * frontier (advanced in the engine's batch-commit callback), and
  * since vacuum retains tag-pinned versions, an aggressive retention
  * setting can never outrun a lagging stream. Without it,
  * retainVersions (or a manual tag) remains the operator's contract.
  *
  * Usage:
  * {{{
  * spark.readStream.format("merge-table-changes")
  *   .option("dir", "/path/to/table")
  *   .option("initialVersion", 1L)
  *   .load()
  * }}} */
final class ChangefeedSourceProvider extends TableProvider
    with DataSourceRegister {

  override def shortName(): String = "merge-table-changes"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val dir = ChangefeedSourceProvider.dirOf(options)
    ChangefeedSourceProvider.schemaOf(spark, dir,
      ChangefeedSourceProvider.startOf(spark, dir, options))
  }

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ChangefeedTable(schema,
      new CaseInsensitiveStringMap(properties))
}

object ChangefeedSourceProvider {

  private[sources] def dirOf(options: CaseInsensitiveStringMap): String = {
    val d = options.get("dir")
    if (d == null) throw new IllegalArgumentException(
      "merge-table-changes requires .option(\"dir\", <table path>)")
    d
  }

  private[sources] def startOf(spark: SparkSession, dir: String,
      options: CaseInsensitiveStringMap): Long =
    MergeTable.resolveVersion(spark, dir,
      Option(options.get("initialVersion")).map(MergeTable.versionOption(
        spark, dir, "merge-table-changes", "initialVersion", _)))

  /** The changefeed schema is stable per table (key + old_row/new_row
    * payload structs + change class); probed via a self-diff — two
    * manifest reads and one footer. The probe version is the start
    * version when it is still retained, else the OLDEST retained one:
    * a restarted query whose bootstrap version has since been
    * vacuumed (its checkpointed frontier is past it, its frontier pin
    * never held it) must not die in the schema probe — versions a
    * batch actually needs still fail loudly in planning. */
  private[sources] def schemaOf(spark: SparkSession, dir: String,
      v: Long): StructType = {
    val vs = MergeTable.versions(spark, dir)
    val probe =
      if (vs.contains(v)) v
      // no version at all: the resolver names the missing table
      else vs.headOption.getOrElse(MergeTable.resolveVersion(spark, dir))
    MergeTable.changes(spark, dir, probe, probe).schema
  }
}

final class ChangefeedTable(schema0: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {

  override def name(): String =
    s"merge_table_changes(${options.get("dir")})"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap)
      : ScanBuilder = { () => new ChangefeedScan(schema0, scanOptions) }
}

final class ChangefeedScan(schema: StructType,
    options: CaseInsensitiveStringMap) extends Scan {

  override def readSchema(): StructType = schema

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = {
    val spark = SparkSession.active
    val dir = ChangefeedSourceProvider.dirOf(options)
    val start = ChangefeedSourceProvider.startOf(spark, dir, options)
    // `pinFrontier=true` derives a stable per-query tag name from the
    // stream's checkpoint path (unique per streaming query by
    // construction), so restarts of the SAME query adopt the same pin
    // and distinct queries never fight over one
    val pin = Option(options.get("pinFrontier"))
      .filter(_.trim.toBoolean).map { _ =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(checkpointLocation.getBytes("UTF-8"))
          .take(6).map(b => f"$b%02x").mkString
        s"stream-$h"
      }
    new ChangefeedMicroBatchStream(spark, dir, start, schema, pin,
      checkpointLocation)
  }

  override def description(): String =
    s"merge-table-changes dir=${options.get("dir")}"
}

final class ChangefeedMicroBatchStream(spark: SparkSession, dir: String,
    startVersion: Long, declared: StructType, pinName: Option[String],
    checkpointLocation: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // FRONTIER AUTO-PIN (`pinFrontier` option): the source maintains
  // TWO tags bracketing its in-flight window so
  // [[MergeTable.vacuum]] — which retains tag-pinned versions past
  // retainVersions — can never sweep a manifest the stream might
  // still need, however aggressive the retention knob and however
  // far the stream lags. `<pin>` holds the current batch's diff BASE
  // (the last committed offset: a crash before the checkpoint commit
  // replays from it) and `<pin>.head` the batch's END (a run that
  // stops without committing its final batch replays it on restart,
  // so the committed frontier is the previous END — one pin at the
  // base alone would let vacuum sweep it between runs). Both advance
  // monotonically in [[planInputPartitions]]; the base additionally
  // advances in [[commit]]. Tags are immutable by design; advancing =
  // dropTag + re-tag, and the retention re-check inside tag() covers
  // the hand-over window against a RACING vacuum; a crash BETWEEN the
  // drop and the re-tag loses that pin until the query restarts
  // (first act: re-pin), so the worst case of a crash + immediate
  // hot vacuum in that gap is the LOUD missing-version error — never
  // silent row loss. Without the option the retention contract stays
  // the documented manual knob.
  pinName.foreach { n =>
    advancePin(n, startVersion); advancePin(s"$n.head", startVersion)
  }

  private def advancePin(name: String, v: Long): Unit = {
    val cur = scala.util.Try(
      MergeTable.tagVersion(spark, dir, name)).toOption
    if (cur.exists(_ >= v)) return // a restarted query replaying an
    // older offset must not drag the pin (and retention) backwards
    cur.foreach(_ => MergeTable.dropTag(spark, dir, name))
    MergeTable.tag(spark, dir, name, Some(v)): Unit
  }

  /** Version ceiling captured when an AvailableNow run starts: the
    * run drains everything committed AT THAT MOMENT and stops —
    * versions landing mid-run wait for the next trigger (the
    * FileStreamSource admission-control discipline). */
  @volatile private var availableNowCap: Option[Long] = None

  private def latestVersion: Long =
    MergeTable.versions(spark, dir).lastOption.getOrElse(startVersion)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(math.max(latestVersion, startVersion))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(startOffset: Offset, limit: ReadLimit)
      : Offset = {
    val cur = math.max(latestVersion, startVersion)
    ChangefeedOffset(availableNowCap.fold(cur)(math.min(cur, _)))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: use latestOffset(start, limit)")

  override def reportLatestOffset(): Offset =
    ChangefeedOffset(math.max(latestVersion, startVersion))

  override def initialOffset(): Offset = ChangefeedOffset(startVersion)

  override def deserializeOffset(json: String): Offset =
    ChangefeedOffset(json.trim.toLong)

  private def versionOf(o: Offset): Long = o match {
    case ChangefeedOffset(v) => v
    case other => other.json.trim.toLong
  }

  private def stagedRoot = new Path(checkpointLocation, "graft-staged")
  private def fs = stagedRoot.getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private val StagedName = "v([0-9]{9})-([0-9]{9})".r

  /** The per-batch delegate parquet Batch over the staged range —
    * written by [[planInputPartitions]], read by
    * [[createReaderFactory]]; micro-batch planning is single-threaded
    * per query. */
  @volatile private var delegate: Option[Batch] = None

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val fromV = versionOf(start)
    val toV = versionOf(end)
    pinName.foreach { n =>
      advancePin(n, fromV); advancePin(s"$n.head", toV)
    }
    if (toV <= fromV) { // engine replay of an empty range
      delegate = None
      return Array.empty
    }
    val staged = new Path(stagedRoot, f"v$fromV%09d-$toV%09d")
    if (!fs.exists(new Path(staged, "_SUCCESS"))) {
      val batch = MergeTable.changes(spark, dir, fromV, toV)
      // changes() speaks the DESTINATION version's logical names, but
      // this source declared its schema once, at startVersion: a
      // schema evolution commit mid-stream (rename/drop/extend — it
      // lands in the old_row/new_row payload STRUCTS, so sameType,
      // not top-level field names, is the test) would otherwise
      // surface downstream as a silently misaligned sink. Name the
      // condition and the remedy instead — the stream must be
      // restarted (fresh source = fresh pinned schema; the
      // checkpoint's version offsets stay valid, so no change is lost
      // or re-delivered).
      if (batch.schema.catalogString != declared.catalogString)
        throw new IllegalStateException(
          s"merge-table-changes at $dir: the table's schema evolved " +
            s"mid-stream (batch ($fromV,$toV] speaks " +
            s"${batch.schema.catalogString}; this stream was started " +
            s"under ${declared.catalogString}). Restart the streaming " +
            "query to adopt the new schema — its checkpointed version " +
            "offsets remain valid.")
      batch.write.mode("overwrite").parquet(staged.toString)
    }
    val b = stagedBatch(staged.toString)
    delegate = Some(b)
    b.planInputPartitions()
  }

  /** Spark's own DSv2 parquet batch over the staged directory: the
    * executors read with the built-in vectorized reader, split by the
    * session's file-partitioning knobs — a changefeed batch scales
    * like any parquet scan. The declared schema is passed explicitly
    * so a zero-row staged batch (the layout-only short-circuit) needs
    * no inference. */
  private def stagedBatch(path: String): Batch = {
    val tbl = org.apache.spark.sql.execution.datasources.v2.parquet
      .ParquetTable("merge-table-changes-staged", spark,
        CaseInsensitiveStringMap.empty(), Seq(path), Some(declared),
        classOf[org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat])
    tbl.newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch
  }

  override def createReaderFactory(): PartitionReaderFactory =
    delegate.map(_.createReaderFactory())
      .getOrElse(EmptyChangefeedReaderFactory)

  override def commit(end: Offset): Unit = {
    val upTo = versionOf(end)
    pinName.foreach(advancePin(_, upTo))
    // committed ranges never re-deliver: their staged copies can go
    try {
      if (fs.exists(stagedRoot))
        fs.listStatus(stagedRoot).foreach { st =>
          st.getPath.getName match {
            case StagedName(_, to) if to.toLong <= upTo =>
              fs.delete(st.getPath, true): Unit
            case _ => ()
          }
        }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"ChangefeedMicroBatchStream[$dir, start=$startVersion]"
}

/** A table version as a streaming offset. */
final case class ChangefeedOffset(v: Long) extends Offset {
  override def json: String = v.toString
}

private object EmptyChangefeedReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    throw new IllegalStateException(
      "an empty changefeed batch plans no partitions")
}

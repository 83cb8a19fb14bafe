package graft.ext

import graft.SparkSpec
import graft.ingest.{ChangefeedRunner, InMemoryKVClient, KVCursorStore}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

/** The errors a MergeTable read names when the snapshot it asks for
  * cannot be resolved. Every read surface — the DataFrame API, the SQL
  * table functions (prepared lookup included), the changefeed runner
  * and the streaming changefeed source — is driven with the same four
  * bad inputs, and each throws exactly the exception type and message
  * pinned below (the table dir reads `<dir>`):
  *
  *  - a directory holding no table;
  *  - a version vacuum has expired (version 1 of a table at version 3,
  *    vacuumed to one version);
  *  - a tag that was never created;
  *  - a version argument that is not a version: `1.5` in SQL and in
  *    a string option or cursor, `-1` where the API takes a `Long`.
  *
  * The API surfaces take an `Option[Long]`; their tag input is the
  * version [[MergeTable.tagVersion]] resolves, which is how a caller
  * names a tag there. */
class SnapshotErrorSpec extends SparkSpec {

  import SnapshotErrorSpec._

  private lazy val table: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-snaperr")
      .resolve("t").toString
    MergeTable.create((1 to 40).map(i => (i.toLong, s"v$i")).toDF("key",
      "value"), dir, "key")
    MergeTable.upsert(spark, dir, Seq((1L, "x")).toDF("key", "value"))
    MergeTable.upsert(spark, dir, Seq((2L, "y")).toDF("key", "value"))
    MergeTable.vacuum(spark, dir, retainVersions = 1, minFileAgeMs = 0L)
    assert(MergeTable.versions(spark, dir) === Seq(3L))
    dir
  }

  private lazy val missing: String =
    java.nio.file.Files.createTempDirectory("graft-snaperr-none")
      .resolve("t").toString

  private def input(name: String): Input = name match {
    case Missing => Input(missing, () => None, "", None)
    case Vacuumed => Input(table, () => Some(1L), ", 1", Some("1"))
    case UnknownTag => Input(table,
      () => Some(MergeTable.tagVersion(spark, table, "no-such-tag")),
      ", 'no-such-tag'", Some("no-such-tag"))
    case BadVersion => Input(table, () => Some(-1L), ", 1.5", Some("1.5"))
  }

  private def sql(q: String): Unit = { spark.sql(q).collect(); () }

  private val surfaces: Seq[(String, Input => Unit)] = Seq(
    "readTable" -> { in =>
      MergeTable.readTable(spark, in.dir, in.api()).collect(); () },
    "readKeys" -> { in =>
      MergeTable.readKeys(spark, in.dir, Seq(1L), in.api()).collect(); () },
    "properties" -> { in =>
      MergeTable.properties(spark, in.dir, in.api()); () },
    "bucketWidth" -> { in =>
      MergeTable.bucketWidth(spark, in.dir, in.api()); () },
    "merge_table" -> { in =>
      sql(s"SELECT * FROM merge_table('${in.dir}'${in.sql})") },
    "prepared lookup" -> { in =>
      sql(s"SELECT * FROM merge_table('${in.dir}'${in.sql}) WHERE key = 1") },
    "table_changes" -> { in =>
      sql(s"SELECT * FROM table_changes('${in.dir}'" +
        s"${if (in.sql.isEmpty) ", 1" else in.sql})") },
    "ChangefeedRunner.runOnce" -> { in =>
      val kv = new InMemoryKVClient
      kv.put("cursor", in.raw.getOrElse("1"))
      ChangefeedRunner.runOnce(spark, in.dir,
        java.nio.file.Files.createTempDirectory("graft-snaperr-sink")
          .toString, new KVCursorStore(kv, "cursor"))
      ()
    },
    "ChangefeedSource" -> { in =>
      val reader = spark.readStream.format("merge-table-changes")
        .option("dir", in.dir)
      val q = in.raw.fold(reader)(reader.option("initialVersion", _))
        .load().writeStream.format("noop")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft-snaperr-ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      catch { case e: StreamingQueryException => throw e.getCause }
      finally q.stop()
    })

  /** The (class, message) a call throws, the dir written `<dir>`. */
  private def thrown(in: Input, body: Input => Unit): (String, String) =
    try {
      body(in)
      ("nothing", "")
    } catch {
      case e: Throwable => (e.getClass.getName,
        String.valueOf(e.getMessage).replace(in.dir, "<dir>"))
    }

  for ((surface, body) <- surfaces; bad <- Inputs)
    test(s"$surface on $bad names the failure") {
      assert(thrown(input(bad), body) === Expected((surface, bad)))
    }
}

object SnapshotErrorSpec {
  /** One bad input as each kind of surface receives it: the table dir,
    * the API's version, the SQL version argument (with its leading
    * comma, or empty) and the string an option or cursor carries. */
  private final case class Input(dir: String, api: () => Option[Long],
      sql: String, raw: Option[String])

  private val Missing = "a missing table"
  private val Vacuumed = "a vacuumed version"
  private val UnknownTag = "an unknown tag"
  private val BadVersion = "a bad version literal"
  private val Inputs = Seq(Missing, Vacuumed, UnknownTag, BadVersion)

  private val IAE = "java.lang.IllegalArgumentException"
  private val ISE = "java.lang.IllegalStateException"
  private val NoTable = IAE -> "no MergeTable at <dir>"
  private def noVersion(v: Long) = IAE -> (s"MergeTable at <dir> has no " +
    s"version $v (vacuumed or never committed); retained: 3")
  private val NoTag = IAE -> "no tag 'no-such-tag' at <dir>; tags: "
  private def notAVersion(fn: String, what: String) = IAE ->
    s"$fn: $what must be an integer version or a string tag name, got 1.5"
  private def nonNumeric(s: String) =
    ISE -> s"KV cursor 'cursor' holds a non-numeric value: '$s'"

  private def row(surface: String, outcomes: (String, String)*) =
    Inputs.zip(outcomes).map { case (bad, o) => (surface, bad) -> o }

  /** What each surface throws — the changefeed runner parses its
    * cursor before any table is read, and the changefeed source reads
    * its option by the SQL version argument's rule. */
  private val Expected: Map[(String, String), (String, String)] = (
    Seq("readTable", "properties", "bucketWidth").flatMap(s =>
      row(s, NoTable, noVersion(1), NoTag, noVersion(-1))) ++
    row("readKeys", NoTable, noVersion(1), NoTag, noVersion(-1)) ++
    Seq("merge_table", "prepared lookup").flatMap(s =>
      row(s, NoTable, noVersion(1), NoTag,
        notAVersion("merge_table", "version"))) ++
    row("table_changes", NoTable, noVersion(1), NoTag,
      notAVersion("table_changes", "fromV")) ++
    row("ChangefeedRunner.runOnce", NoTable, noVersion(1),
      nonNumeric("no-such-tag"), nonNumeric("1.5")) ++
    row("ChangefeedSource", NoTable, noVersion(1), NoTag,
      IAE -> ("merge-table-changes: initialVersion of <dir> must be an " +
        "integer version or a tag name, got 1.5"))).toMap
}

package graft.sources

import graft.SparkSpec
import graft.ext.{Ivm, MergeTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming changefeed source: version offsets, exactly-once
  * version-range batches, the fingerprint short-circuit riding along,
  * and a downstream IVM view maintained end-to-end by subscription
  * instead of runner polling. */
class ChangefeedSourceSpec extends SparkSpec {

  private def mkTable(n: Int): (String, DataFrame) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cfsrc")
      .resolve("t").toString
    val df = (1 to n).map(i =>
      (i.toLong, if (i % 3 == 0) "A" else "B", i.toLong * 10))
      .toDF("key", "status", "cents")
    MergeTable.create(df, dir, "key")
    (dir, df)
  }

  private def stream(dir: String): DataFrame =
    spark.readStream.format("merge-table-changes")
      .option("dir", dir).option("initialVersion", 1L).load()

  private def drain(dir: String, view: String, checkpoint: String): Unit = {
    val q = graft.streaming.IvmStream.start(stream(dir), view,
      checkpoint, Seq("status"), Seq("cents"), Nil, compactEvery = 4)
    q.awaitTermination()
  }

  private def direct(dir: String): Set[(String, Long, Long)] =
    MergeTable.readTable(spark, dir).groupBy("status")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet

  private def served(view: String): Set[(String, Long, Long)] =
    Ivm.serve(spark, view).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("an IVM view subscribes to the table end-to-end: each drain " +
      "consumes exactly the unconsumed version range, restarts resume " +
      "from the checkpointed version, and the served view equals the " +
      "direct aggregate after every drain") {
    import spark.implicits._
    val (dir, _) = mkTable(400)
    val root = java.nio.file.Files.createTempDirectory("graft-cfs1")
    val view = root.resolve("view").toString
    val ckpt = root.resolve("ckpt").toString
    Ivm.init(MergeTable.readTable(spark, dir, Some(1L)).drop("bucket"),
      view)
    // drain with NOTHING new: zero batches, view untouched
    drain(dir, view, ckpt)
    assert(served(view) === direct(dir))
    // two upserts, one drain: the batch is the coalesced 1→3 diff
    MergeTable.upsert(spark, dir,
      Seq((3L, "C", 777L), (401L, "C", 5L)).toDF("key", "status", "cents"))
    MergeTable.upsert(spark, dir,
      Seq((6L, "C", 888L)).toDF("key", "status", "cents"))
    drain(dir, view, ckpt)
    assert(served(view) === direct(dir),
      "subscription drain must land the composed 1->3 delta exactly")
    // restart across a version boundary: a delete lands between
    // drains; the NEW stream instance resumes from the checkpoint
    MergeTable.deleteKeys(spark, dir, Seq(9L, 401L).toDF("key"))
    drain(dir, view, ckpt)
    assert(served(view) === direct(dir),
      "restart must consume exactly the (3, 4] range — no replay, " +
        "no gap")
    // idle restart: nothing new, nothing double-applied
    drain(dir, view, ckpt)
    assert(served(view) === direct(dir))
  }

  test("a layout-only window is a ZERO-ROW batch (the fingerprint " +
      "short-circuit rides into the stream), and a real change after " +
      "it still flows") {
    import spark.implicits._
    val (dir, _) = mkTable(200)
    val root = java.nio.file.Files.createTempDirectory("graft-cfs2")
    val sink = root.resolve("sink").toString
    val ckpt = root.resolve("ckpt").toString
    def drainToSink(): Unit = {
      val q = stream(dir).writeStream
        .format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    MergeTable.optimize(spark, dir, "cents")
    drainToSink()
    val afterOptimize = spark.read.parquet(sink).count()
    assert(afterOptimize === 0L,
      "an optimize-only window must deliver zero change rows")
    MergeTable.upsert(spark, dir, Seq((1L, "Z", 1L))
      .toDF("key", "status", "cents"))
    drainToSink()
    val rows = spark.read.parquet(sink)
      .select("key", "change").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq === Seq((1L, "update")),
      s"the post-optimize change must flow exactly once: ${rows.toSeq}")
  }

  test("a schema evolution commit mid-stream fails the NEXT batch " +
      "with a NAMED error (restart to adopt the new schema) instead " +
      "of the engine's opaque plan-schema assertion") {
    import spark.implicits._
    val (dir, _) = mkTable(60)
    val root = java.nio.file.Files.createTempDirectory("graft-cfs3")
    val sink = root.resolve("sink").toString
    val ckpt = root.resolve("ckpt").toString
    def drainToSink(): Unit = {
      val q = stream(dir).writeStream
        .format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    MergeTable.upsert(spark, dir, Seq((1L, "Z", 1L))
      .toDF("key", "status", "cents"))
    drainToSink() // healthy pre-evolution batch
    MergeTable.renameColumn(spark, dir, "cents", "amount")
    MergeTable.upsert(spark, dir, Seq((2L, "Z", 2L))
      .toDF("key", "status", "amount"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainToSink()
    }
    val msg = Option(err.getCause).fold(err.getMessage)(_.getMessage)
    assert(msg.contains("schema evolved"),
      s"the failure must be the source's named error, got: $msg")
  }

  test("pinFrontier=true: the source holds a tag at its committed " +
      "frontier, so an aggressive vacuum cannot outrun a LAGGING " +
      "stream — no data loss, and the pin advances with the " +
      "checkpoint; the unpinned twin fails loudly on the same abuse") {
    import spark.implicits._
    def run(pin: Boolean): Either[String, Long] = {
      val (dir, _) = mkTable(100)
      val root = java.nio.file.Files.createTempDirectory(
        s"graft-cfs-pin$pin")
      val sink = root.resolve("sink").toString
      val ckpt = root.resolve("ckpt").toString
      def drain(): Unit = {
        val q = spark.readStream.format("merge-table-changes")
          .option("dir", dir).option("initialVersion", 1L)
          .option("pinFrontier", pin.toString).load()
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      MergeTable.upsert(spark, dir, Seq((1L, "Z", 1L))
        .toDF("key", "status", "cents"))
      drain() // frontier now v2
      if (pin) {
        val p1 = MergeTable.tags(spark, dir)
          .filter(_._1.startsWith("stream-"))
        assert(p1.nonEmpty && p1.values.max >= 2L,
          s"pins must bracket the first drained window: $p1")
      }
      // the stream LAGS while the table moves on and vacuum runs hot
      (2 to 4).foreach { i =>
        MergeTable.upsert(spark, dir, Seq((i.toLong, "Z", i.toLong))
          .toDF("key", "status", "cents"))
      }
      MergeTable.vacuum(spark, dir, retainVersions = 1, minFileAgeMs = 0L)
      try {
        drain()
        val keys = spark.read.parquet(sink).select("key")
          .collect().map(_.getLong(0)).toSet
        assert(keys === Set(1L, 2L, 3L, 4L),
          s"every change must arrive exactly once: $keys")
        val pins = MergeTable.tags(spark, dir)
          .filter(_._1.startsWith("stream-"))
        if (pin) {
          assert(pins.size === 2,
            s"base + head frontier pins expected: $pins")
          assert(pins.values.max ===
            MergeTable.versions(spark, dir).last,
            "the head pin must advance to the drained frontier")
        } else assert(pins.isEmpty)
        Right(keys.size.toLong)
      } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          Left(Option(e.getCause).fold(e.getMessage)(_.getMessage))
        case e: IllegalArgumentException =>
          // the unpinned twin can die as early as the schema probe
          // (its bootstrap version is already swept) — equally loud
          Left(e.getMessage)
      }
    }
    assert(run(pin = true) === Right(4L))
    run(pin = false) match {
      case Left(msg) => assert(msg.contains("vacuumed") ||
        msg.contains("no version"),
        s"the unpinned stream must fail LOUDLY, not skip rows: $msg")
      case Right(_) => fail("without the pin, an aggressive vacuum " +
        "must surface as a loud missing-version error")
    }
  }

  test("a tag name as initialVersion starts the stream at the tag's " +
      "version, as the same version number does") {
    import spark.implicits._
    val (dir, _) = mkTable(50)
    MergeTable.upsert(spark, dir, Seq((1L, "Z", 1L))
      .toDF("key", "status", "cents"))
    MergeTable.tag(spark, dir, "release", Some(2L))
    MergeTable.upsert(spark, dir, Seq((5L, "Z", 5L))
      .toDF("key", "status", "cents"))
    def drained(initial: String): Seq[(Long, String)] = {
      val root = java.nio.file.Files.createTempDirectory("graft-cfs-tag")
      val sink = root.resolve("sink").toString
      spark.readStream.format("merge-table-changes")
        .option("dir", dir).option("initialVersion", initial).load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      spark.read.parquet(sink).select("key", "change").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    }
    assert(drained("release") === Seq((5L, "update")))
    assert(drained("2") === drained("release"))
    // a tag may look like a number; it still names the tag
    MergeTable.tag(spark, dir, "1.5", Some(2L))
    assert(drained("1.5") === drained("release"))
  }

  test("the provider is loud on a missing dir option and derives the " +
      "changefeed schema (key, old_row, new_row, change)") {
    val (dir, _) = mkTable(20)
    val err = intercept[IllegalArgumentException] {
      spark.readStream.format("merge-table-changes").load()
        .writeStream.format("noop").start()
    }
    assert(err.getMessage.contains("dir"))
    val s = stream(dir)
    assert(s.isStreaming)
    assert(s.schema.fieldNames.toSeq ===
      Seq("key", "old_row", "new_row", "change"))
  }
}

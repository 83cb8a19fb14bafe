package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** MergeTable (copy-on-write + snapshot isolation): file-granular
  * rewrite — untouched files byte-identical, upsert scan pruned to
  * impacted partitions, replay idempotent by value, time travel reads
  * prior versions exactly, manifest commits conflict loudly, vacuum
  * deletes only unreferenced files (and with them, old snapshots). */
class MergeTableSpec extends SparkSpec {

  private def mkTable(n: Int = 500): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cow")
      .resolve("t").toString
    val df = (1 to n).map(i => (i.toLong, s"v$i")).toDF("key", "value")
    MergeTable.create(df, dir, "key")
    dir
  }

  /** Every data file on disk: relative path -> (size, mtime). */
  private def fileIds(dir: String): Map[String, (Long, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(s"$dir/data")
    fs.listStatus(root).filter(_.isDirectory).flatMap { epoch =>
      fs.listStatus(epoch.getPath).filter(_.isDirectory).flatMap { d =>
        fs.listStatus(d.getPath).filter(_.isFile)
          .filterNot(_.getPath.getName.startsWith("_"))
          .map(f => s"${epoch.getPath.getName}/${d.getPath.getName}/" +
            f.getPath.getName -> (f.getLen, f.getModificationTime))
      }
    }.toMap
  }

  test("reserved layout column names are rejected loudly: a payload " +
      "'bucket' or 'v' would be silently destroyed, a missing key " +
      "cannot bucket") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cow-res")
      .resolve("t").toString
    val e1 = intercept[IllegalArgumentException] {
      MergeTable.create(Seq((1L, "x")).toDF("key", "bucket"), dir, "key")
    }
    assert(e1.getMessage.contains("reserved"))
    val e2 = intercept[IllegalArgumentException] {
      MergeTable.create(Seq((1L, "x")).toDF("key", "v"), dir, "key")
    }
    assert(e2.getMessage.contains("reserved"))
    val e3 = intercept[IllegalArgumentException] {
      MergeTable.create(Seq((1L, "x")).toDF("key", "value"), dir, "nope")
    }
    assert(e3.getMessage.contains("not in the input"))
    MergeTable.create(Seq((1L, "x")).toDF("key", "value"), dir, "key")
    val e4 = intercept[IllegalArgumentException] {
      MergeTable.upsert(spark, dir,
        Seq((1L, "y", 9L)).toDF("key", "value", "v"))
    }
    assert(e4.getMessage.contains("reserved"))
    // feeding readTable output back through upsert stays legal: the
    // bucket column is recomputed, not destroyed
    MergeTable.upsert(spark, dir, MergeTable.readTable(spark, dir)
      .withColumn("value", lit("fed-back")))
    assert(MergeTable.readTable(spark, dir).select("value")
      .collect().head.getString(0) === "fed-back")
  }

  test("upsert writes only the impacted buckets' new files; every " +
      "pre-existing file is untouched on disk; state is exact") {
    import spark.implicits._
    val dir = mkTable()
    val before = fileIds(dir)
    val updates = Seq((7L, "SEVEN"), (501L, "new")).toDF("key", "value")
    val st = MergeTable.upsert(spark, dir, updates)
    assert(st.version === 2L)
    assert(st.rowsMatched === 1L && st.rowsInserted === 1L)
    assert(st.bucketsRewritten <= 2L)
    assert(st.filesRead <= 2L && st.filesWritten === st.bucketsRewritten)
    val after = fileIds(dir)
    // copy-on-write: no pre-existing file modified or deleted
    assert(before.forall { case (p, sig) => after.get(p) == Some(sig) },
      "a live file was mutated or deleted by an upsert")
    assert((after.keySet -- before.keySet).forall(_.startsWith("v=2-")),
      "new files must land under the new epoch's attempt dir only")
    val t = MergeTable.readTable(spark, dir)
    assert(t.count() === 501L)
    assert(t.filter(col("key") === 7L).select("value")
      .collect().head.getString(0) === "SEVEN")
  }

  test("the upsert's existing-side scan prunes to the impacted " +
      "bucket partitions") {
    import spark.implicits._
    val dir = mkTable()
    val plan = MergeTable.readTable(spark, dir)
      .filter(col("bucket").isin("0a", "ff"))
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator
      .find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("bucket"),
      s"bucket predicate did not reach PartitionFilters:\n$plan")
  }

  test("replaying the same upsert is idempotent by value") {
    import spark.implicits._
    val dir = mkTable(100)
    val updates = Seq((13L, "x13"), (113L, "ins")).toDF("key", "value")
    MergeTable.upsert(spark, dir, updates)
    val once = MergeTable.readTable(spark, dir)
      .orderBy("key").collect().toSeq
    val st2 = MergeTable.upsert(spark, dir, updates) // replay
    assert(st2.rowsMatched === 2L && st2.rowsInserted === 0L)
    val twice = MergeTable.readTable(spark, dir)
      .orderBy("key").collect().toSeq
    assert(once === twice, "replay changed the table state")
  }

  test("time travel: prior versions read their exact snapshots after " +
      "later commits, and hard delete only affects the new version") {
    import spark.implicits._
    val dir = mkTable(50)
    MergeTable.upsert(spark, dir, Seq((1L, "CHANGED")).toDF("key", "value"))
    MergeTable.deleteKeys(spark, dir, Seq(2L).toDF("key"))
    assert(MergeTable.versions(spark, dir) === Seq(1L, 2L, 3L))
    val v1 = MergeTable.readTable(spark, dir, Some(1L))
    assert(v1.count() === 50L)
    assert(v1.filter(col("key") === 1L).select("value")
      .collect().head.getString(0) === "v1")
    val v2 = MergeTable.readTable(spark, dir, Some(2L))
    assert(v2.filter(col("key") === 1L).select("value")
      .collect().head.getString(0) === "CHANGED")
    assert(v2.filter(col("key") === 2L).count() === 1L)
    val v3 = MergeTable.readTable(spark, dir)
    assert(v3.count() === 49L)
    assert(v3.filter(col("key") === 2L).count() === 0L)
  }

  test("a concurrent commit of the same version conflicts loudly") {
    val dir = mkTable(20)
    // both racers derived version 2 from snapshot 1; the second
    // manifest create must fail, never silently clobber the first
    MergeTable.commitManifest(spark, dir, 2L,
      MergeTable.ManifestData(entries = Seq("v=2/bucket=aa/w.parquet")))
    val err = intercept[java.io.IOException] {
      MergeTable.commitManifest(spark, dir, 2L,
        MergeTable.ManifestData(entries = Seq("v=2/bucket=bb/l.parquet")))
    }
    assert(err.getMessage.contains("commit conflict"))
  }

  test("vacuum deletes exactly the unreferenced files; the current " +
      "version still reads; the dropped version no longer does") {
    import spark.implicits._
    val dir = mkTable(50)
    MergeTable.upsert(spark, dir,
      Seq((5L, "x"), (6L, "y")).toDF("key", "value"))
    val liveBefore = fileIds(dir).size
    val vs = MergeTable.vacuum(spark, dir, retainVersions = 1, minFileAgeMs = 0)
    assert(vs.versionsDropped === 1L && vs.versionsLive === 1L)
    assert(fileIds(dir).size === liveBefore - vs.filesDeleted.toInt)
    assert(fileIds(dir).size.toLong === vs.filesLive)
    assert(MergeTable.readTable(spark, dir).count() === 50L)
    val err = intercept[IllegalArgumentException] {
      MergeTable.readTable(spark, dir, Some(1L)).count()
    }
    assert(err.getMessage.contains("no version"))
  }

  test("hard delete that empties a bucket leaves it absent from the " +
      "current snapshot, and vacuum removes its file from disk") {
    import spark.implicits._
    val dir = mkTable(50)
    val victim = MergeTable.readTable(spark, dir)
      .groupBy("bucket").count()
      .orderBy("count", "bucket").collect().head.getString(0)
    val doomed = MergeTable.readTable(spark, dir)
      .filter(col("bucket") === victim).select("key")
      .localCheckpoint(true)
    val nDoomed = doomed.count()
    val st = MergeTable.deleteKeys(spark, dir, doomed)
    assert(st.rowsMatched === nDoomed)
    assert(st.filesWritten < st.bucketsRewritten,
      "an emptied bucket must contribute no file to the new version")
    val t = MergeTable.readTable(spark, dir)
    assert(t.count() === 50L - nDoomed)
    assert(t.filter(col("bucket") === victim).count() === 0L)
    MergeTable.vacuum(spark, dir, retainVersions = 1, minFileAgeMs = 0)
    assert(!fileIds(dir).keys.exists(_.contains(s"bucket=$victim")),
      "the emptied bucket's file survived vacuum")
  }

  test("vacuum's default grace protects an in-flight writer: a young " +
      "unreferenced attempt file survives the sweep (its commit can " +
      "still land), and sweeps once aged") {
    import spark.implicits._
    val dir = mkTable(30)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an in-flight committer mid-window: epoch written, manifest not
    // yet promoted — its files are unreferenced RIGHT NOW
    val inflight = new org.apache.hadoop.fs.Path(
      s"$dir/data/v=2-77x7/bucket=0a/part-inflight.snappy.parquet")
    fs.mkdirs(inflight.getParent)
    val o = fs.create(inflight, true)
    try o.write(Array.fill[Byte](16)(1)) finally o.close()
    MergeTable.vacuum(spark, dir, retainVersions = 1)
    assert(fs.exists(inflight),
      "a graceless sweep would delete an in-flight commit's files and " +
        "let its manifest land referencing missing data")
    // the writer crashed instead: the attempt ages past the grace and
    // the next sweep collects it as a benign orphan
    fs.setTimes(inflight, System.currentTimeMillis() - 11 * 60 * 1000, -1)
    val vs = MergeTable.vacuum(spark, dir, retainVersions = 1)
    assert(vs.filesDeleted === 1L)
    assert(!fs.exists(inflight))
    val rep = MergeTable.fsck(spark, dir)
    assert(rep.orphans === 0L && rep.missing === 0L)
  }

  test("changefeed: the version diff scans only manifest-changed " +
      "buckets and classifies insert/update/delete exactly") {
    import spark.implicits._
    val dir = mkTable(500)
    // pick an update key whose bucket holds MORE than one row, so the
    // diff must drop the rewritten bucket's untouched neighbors
    val crowded = MergeTable.readTable(spark, dir)
      .filter(col("key") =!= 3L) // key 3 is this test's delete target
      .groupBy("bucket").agg(count(lit(1)).as("c"), min("key").as("k"))
      .filter(col("c") >= 2).orderBy("bucket").collect().head
    val upKey = crowded.getAs[Long]("k")
    MergeTable.upsert(spark, dir, Seq((upKey, "UP"), (9001L, "INS"))
      .toDF("key", "value"))
    MergeTable.deleteKeys(spark, dir, Seq(3L).toDF("key"))
    val changed = MergeTable.changedBuckets(spark, dir, 1L, 3L)
    assert(changed.size <= 3L,
      s"diff should scan at most the 3 touched buckets, got $changed")
    val cf = MergeTable.changes(spark, dir, 1L, 3L)
      .select(col("key"), col("change")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cf === Map(upKey -> "update", 9001L -> "insert",
      3L -> "delete"),
      s"changefeed misclassified: $cf")
  }

  test("optimize: contents-invariant, physically sorted within every " +
      "bucket file, reclaimed by vacuum") {
    import spark.implicits._
    val dir = mkTable(300)
    val before = MergeTable.readTable(spark, dir)
      .orderBy("key").collect().toSeq
    val st = MergeTable.optimize(spark, dir, "value")
    assert(st.version === 2L)
    val after = MergeTable.readTable(spark, dir)
      .orderBy("key").collect().toSeq
    assert(before === after, "optimize changed table contents")
    // physical within-file sortedness on the sort column
    val files = fileIds(dir).keys.filter(_.startsWith("v=2-")).toSeq
    assert(files.nonEmpty)
    files.take(5).foreach { rel =>
      val vals = spark.read.parquet(s"$dir/data/$rel")
        .select("value").collect().map(_.getString(0)).toSeq
      assert(vals === vals.sorted, s"file $rel not sorted by value")
    }
    val vac = MergeTable.vacuum(spark, dir, retainVersions = 1, minFileAgeMs = 0)
    assert(vac.filesDeleted > 0)
    assert(MergeTable.readTable(spark, dir)
      .orderBy("key").collect().toSeq === after)
  }

  test("schema evolution: an extending batch adds a column (old rows " +
      "read null), a dropping batch throws, the changefeed straddles " +
      "the evolution") {
    import spark.implicits._
    val dir = mkTable(50)
    val evolved = Seq((7L, "seven", 1L)).toDF("key", "value", "flag")
    MergeTable.upsert(spark, dir, evolved)
    val t = MergeTable.readTable(spark, dir)
    assert(t.columns.contains("flag"))
    assert(t.filter(col("key") === 7L).select("flag")
      .collect().head.getLong(0) === 1L)
    assert(t.filter(col("key") === 8L).select("flag")
      .collect().head.isNullAt(0),
      "pre-evolution rows must read null for the new column")
    val err = intercept[IllegalArgumentException] {
      MergeTable.upsert(spark, dir, Seq((9L, 2L)).toDF("key", "flag"))
    }
    assert(err.getMessage.contains("extend-only"))
    // a diff straddling the evolution: key 7's change registers
    val cf = MergeTable.changes(spark, dir, 1L, 2L)
      .select("key", "change").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cf === Map(7L -> "update"))
  }

  test("upsert rejects a batch carrying two rows for one key — the " +
      "silent-duplicate CDC corruption turned into a loud error") {
    import spark.implicits._
    val dir = mkTable(50)
    val err = intercept[IllegalArgumentException] {
      MergeTable.upsert(spark, dir,
        Seq((7L, "first"), (7L, "second"), (8L, "x"))
          .toDF("key", "value"))
    }
    assert(err.getMessage.contains("one row per key"))
    // the rejected batch must not have committed anything
    assert(MergeTable.versions(spark, dir) === Seq(1L))
  }

  test("atomic manifest commit: a zero-length manifest (legacy torn " +
      "write) is invisible garbage — not a version, not latest, and " +
      "the version is re-committable over it") {
    val dir = mkTable(30)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant the torn write the old create-then-write commit could leave
    val torn = new org.apache.hadoop.fs.Path(s"$dir/_manifests/v000000002")
    fs.create(torn, true).close()
    assert(MergeTable.versions(spark, dir) === Seq(1L),
      "a zero-length manifest must not surface as a committed version")
    // latest-read resolves v1, unaffected by the garbage
    assert(MergeTable.readTable(spark, dir).count() === 30L)
    // and the retry can claim version 2 over the garbage
    import spark.implicits._
    val st = MergeTable.upsert(spark, dir, Seq((1L, "re")).toDF("key", "value"))
    assert(st.version === 2L)
    assert(MergeTable.versions(spark, dir) === Seq(1L, 2L))
    assert(MergeTable.readTable(spark, dir)
      .filter(col("key") === 1L).select("value")
      .collect().head.getString(0) === "re")
  }

  test("a crashed commit (temp manifest written, never promoted) is " +
      "invisible to readers and swept by vacuum — but a FRESH temp " +
      "above the current version (possibly in-flight) is left alone") {
    val dir = mkTable(30)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plant(name: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/_manifests/$name")
      val o = fs.create(p, true)
      try o.write("#hex=2\nv=9-99x9/bucket=aa/w.parquet".getBytes("UTF-8"))
      finally o.close()
      p
    }
    // a lost race / crashed commit at the CURRENT version: always stale
    val lostRace = plant(".v000000001.99x9.tmp")
    // a fresh temp one version ahead: indistinguishable from in-flight
    val inFlight = plant(".v000000002.88x8.tmp")
    assert(MergeTable.versions(spark, dir) === Seq(1L))
    // default grace: the young above-current temp survives
    MergeTable.vacuum(spark, dir, retainVersions = 1)
    assert(!fs.exists(lostRace), "vacuum must sweep stale commit temps")
    assert(fs.exists(inFlight),
      "a fresh above-current temp may be an in-flight commit — kept " +
        "until the age grace expires")
    // ONE knob governs both sweeps: the single-writer waiver
    // (minFileAgeMs = 0) drains the above-current temp immediately,
    // exactly as it does the data files — no hidden second clock
    MergeTable.vacuum(spark, dir, retainVersions = 1, minFileAgeMs = 0)
    assert(!fs.exists(inFlight),
      "minFileAgeMs must gate the manifest-temp sweep too")
  }

  test("vacuum crash ordering: dying between the manifest drop and " +
      "the file sweep leaves benign orphans (missing = 0), and the " +
      "next vacuum resweeps them") {
    import spark.implicits._
    val dir = mkTable(50)
    MergeTable.upsert(spark, dir, Seq((5L, "x")).toDF("key", "value"))
    val boom = intercept[RuntimeException] {
      MergeTable.vacuumWithHook(spark, dir, 1,
        () => throw new RuntimeException("crash before file sweep"))
    }
    assert(boom.getMessage.contains("crash"))
    val rep = MergeTable.fsck(spark, dir)
    assert(rep.missing === 0L,
      "a vacuum crash must never strand a listed version without files")
    assert(rep.orphans > 0L, "the v1-only files should now be orphans")
    assert(MergeTable.readTable(spark, dir).count() === 50L)
    MergeTable.vacuum(spark, dir, retainVersions = 1, minFileAgeMs = 0)
    val after = MergeTable.fsck(spark, dir)
    assert(after.orphans === 0L && after.missing === 0L)
  }

  test("multi-writer: the commit-race loser retries against the " +
      "winner's snapshot; final state equals sequential application " +
      "and no orphan attempt files survive") {
    import spark.implicits._
    val dir = mkTable(200)
    // writer A prepares an upsert; between A's epoch write and its
    // manifest promotion, writer B commits a full upsert of its own —
    // including a key in the SAME bucket-set A is rewriting, so A's
    // retry must pick up B's row or lose it
    var fired = false
    val stA = MergeTable.upsertWithHook(spark, dir,
      Seq((7L, "fromA"), (201L, "insA")).toDF("key", "value"),
      () => if (!fired) {
        fired = true
        MergeTable.upsert(spark, dir,
          Seq((7L, "fromB"), (8L, "fromB")).toDF("key", "value")): Unit
      })
    assert(fired)
    assert(stA.version === 3L,
      "the loser must land at the version after the winner's")
    val t = MergeTable.readTable(spark, dir)
    val byKey = t.filter(col("key").isin(7L, 8L, 201L))
      .select("key", "value").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // sequential semantics: B committed first, then A — A's write of
    // key 7 supersedes B's; B's key 8 survives; A's insert lands
    assert(byKey === Map(7L -> "fromA", 8L -> "fromB", 201L -> "insA"))
    assert(t.count() === 201L)
    // the losing attempt dir was eagerly deleted: nothing orphaned
    val rep = MergeTable.fsck(spark, dir)
    assert(rep.orphans === 0L && rep.missing === 0L)
  }

  test("rebucket: contents-invariant full-rewrite migration to a new " +
      "bucket width; time travel reads old versions under their own " +
      "width; later upserts bucket at the new width") {
    import spark.implicits._
    val dir = mkTable(300)
    assert(MergeTable.bucketWidth(spark, dir) === 2)
    val before = MergeTable.readTable(spark, dir).drop("bucket")
      .orderBy("key").collect().toSeq
    val st = MergeTable.rebucket(spark, dir, 1)
    assert(st.version === 2L)
    assert(st.filesWritten === 16L,
      "300 keys must populate all 16 one-hex buckets")
    assert(MergeTable.bucketWidth(spark, dir) === 1)
    assert(MergeTable.bucketWidth(spark, dir, Some(1L)) === 2,
      "the pre-migration snapshot keeps its own width")
    val after = MergeTable.readTable(spark, dir)
    assert(after.drop("bucket").orderBy("key").collect().toSeq === before,
      "rebucket changed table contents")
    assert(after.select("bucket").distinct().collect()
      .forall(_.getString(0).length == 1))
    // time travel across the boundary: v1 still reads 2-hex buckets
    val v1 = MergeTable.readTable(spark, dir, Some(1L))
    assert(v1.select("bucket").distinct().collect()
      .forall(_.getString(0).length == 2))
    // an upsert after the migration buckets at the NEW width and lands
    // in the right file set (state correct, no duplicate key)
    val up = MergeTable.upsert(spark, dir,
      Seq((13L, "NEW"), (301L, "ins")).toDF("key", "value"))
    assert(up.rowsMatched === 1L && up.rowsInserted === 1L)
    assert(up.bucketsRewritten <= 2L)
    val t = MergeTable.readTable(spark, dir)
    assert(t.count() === 301L)
    assert(t.filter(col("key") === 13L).count() === 1L)
    assert(t.filter(col("key") === 13L).select("value")
      .collect().head.getString(0) === "NEW")
  }

  test("changefeed across the rebucket boundary: a rebucket-only " +
      "window prunes to ZERO buckets via the width-invariant " +
      "fingerprint total; width change + real changes pays the full " +
      "diff with exact classifications") {
    import spark.implicits._
    val dir = mkTable(200)
    MergeTable.rebucket(spark, dir, 1)
    // the migration rewrote everything and re-hashed every key, but
    // the TABLE-LEVEL fingerprint total is width-invariant: the
    // window must prune before a byte is read, not merely diff empty
    assert(MergeTable.changedBuckets(spark, dir, 1L, 2L) === Seq.empty,
      "a contents-invariant migration must prune to zero buckets — " +
        "the additive fingerprint total is the same number at both " +
        "widths")
    assert(MergeTable.changes(spark, dir, 1L, 2L).count() === 0L,
      "a contents-invariant migration must produce no change rows")
    MergeTable.upsert(spark, dir, Seq((5L, "moved"), (201L, "ins"))
      .toDF("key", "value"))
    // width change AND real row changes in one window: totals differ,
    // bucket identity is gone — every bucket on both sides is in play
    assert(MergeTable.changedBuckets(spark, dir, 1L, 3L).nonEmpty,
      "real changes across a width change must defeat the total " +
        "shortcut")
    val cf = MergeTable.changes(spark, dir, 1L, 3L)
      .select("key", "change").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cf === Map(5L -> "update", 201L -> "insert"),
      s"diff across the migration misclassified: $cf")
  }

  test("concurrent upserts from two threads settle by retry: every " +
      "batch lands exactly once, final state is exact, no orphans") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = mkTable(100)
    // two writers, disjoint key ranges, three batches each — the retry
    // protocol must serialize them without losing a batch
    def writer(base: Long): Future[Unit] = Future {
      (0 until 3).foreach { i =>
        MergeTable.upsert(spark, dir,
          Seq((base + i, s"w$base-$i")).toDF("key", "value")): Unit
      }
    }
    Await.result(Future.sequence(Seq(writer(200L), writer(300L))),
      5.minutes)
    assert(MergeTable.versions(spark, dir).size === 7,
      "six upserts after create must land six committed versions")
    val t = MergeTable.readTable(spark, dir)
    assert(t.count() === 106L)
    val got = t.filter(col("key") >= 200L).select("key", "value")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === (0 until 3).flatMap(i => Seq(
      (200L + i) -> s"w200-$i", (300L + i) -> s"w300-$i")).toMap)
    val rep = MergeTable.fsck(spark, dir)
    assert(rep.orphans === 0L && rep.missing === 0L)
  }

  test("optimizeZOrder: contents-invariant; each bucket file's row " +
      "groups are clustered so block stats prune a two-column box") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cowz")
      .resolve("t").toString
    val n = 4000
    // two independent value dimensions over a 16-bucket table
    val df = (1 to n).map(i => (i.toLong, (i * 37L) % 1000L,
      (i * 101L) % 1000L)).toDF("key", "x", "y")
    MergeTable.create(df, dir, "key", hexDigits = 1)
    val before = MergeTable.readTable(spark, dir).drop("bucket")
      .orderBy("key").collect().toSeq
    val st = MergeTable.optimizeZOrder(spark, dir, "x", "y",
      blockBytes = Some(1024))
    assert(st.version === 2L)
    val after = MergeTable.readTable(spark, dir)
    assert(after.drop("bucket").orderBy("key").collect().toSeq === before,
      "optimizeZOrder changed table contents")
    assert(!after.columns.contains("zval"),
      "the clustering key must not be persisted")
    // physical: multiple row groups per file, and box pruning works on
    // the real footers
    val files = fileIds(dir).keys.filter(_.startsWith("v=2-"))
      .map(rel => s"$dir/data/$rel").toSeq
    val blocks = Layout.footerBlockStats(spark, files, "x", "y")
      .localCheckpoint(true)
    assert(blocks.count() > files.size.toLong,
      "expected multiple row groups per bucket file")
    val opened = Layout.prunedRowGroups(blocks,
      Some((437L, 500L)), Some((437L, 500L))).count()
    assert(opened < blocks.count(),
      "block stats failed to prune the box on the z-ordered table")
  }

  test("layout-only commits contribute ZERO changed buckets: optimize " +
      "and optimizeZOrder rewrite every file, the content fingerprints " +
      "compare equal, and the cross-maintenance diff reads nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cowfp")
      .resolve("t").toString
    val df = (1 to 400).map(i => (i.toLong, (i * 37L) % 100L,
      (i * 101L) % 100L)).toDF("key", "x", "y")
    MergeTable.create(df, dir, "key", hexDigits = 1)
    MergeTable.upsert(spark, dir,
      Seq((7L, 1L, 1L), (401L, 2L, 2L)).toDF("key", "x", "y")) // v2
    MergeTable.optimize(spark, dir, "x") // v3: every file rewritten
    assert(MergeTable.changedBuckets(spark, dir, 2L, 3L) === Seq.empty,
      "optimize rewrote files but moved no row — fingerprints must " +
        "prove every bucket unchanged")
    MergeTable.optimizeZOrder(spark, dir, "x", "y") // v4
    assert(MergeTable.changedBuckets(spark, dir, 3L, 4L) === Seq.empty)
    val quiet = MergeTable.changes(spark, dir, 2L, 4L)
    assert(quiet.count() === 0L)
    // the quiet window short-circuits to a one-footer schema probe —
    // the empty batch must still carry the full changefeed shape (a
    // chained consumer selects old_row/new_row fields off it)
    assert(quiet.columns.toSeq === Seq("key", "old_row", "new_row",
      "change"))
    Seq("old_row", "new_row").foreach { c =>
      assert(quiet.schema(c).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSet === Set("x", "y"),
        s"$c must carry the payload columns")
    }
    // the fingerprints are CONTENT-honest, not a maintenance flag: a
    // diff across maintenance plus a REAL change scans exactly the
    // really-changed buckets and classifies the rows
    MergeTable.upsert(spark, dir, Seq((9L, 0L, 0L)).toDF("key", "x", "y"))
    val changed = MergeTable.changedBuckets(spark, dir, 2L, 5L)
    assert(changed.size === 1,
      s"expected only key 9's bucket to differ, got $changed")
    val cf = MergeTable.changes(spark, dir, 2L, 5L)
      .select("key", "change").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cf === Map(9L -> "update"))
    // inherited fingerprints: an upsert carries untouched buckets' fps
    // forward verbatim, so a bucket untouched since v2 still compares
    // equal even though BOTH endpoint manifests postdate maintenance
  }

  test("legacy manifests without fingerprints fall back to file-list " +
      "identity per bucket — conservative (maintenance scans), never " +
      "wrong (quiet buckets still skip)") {
    import spark.implicits._
    val dir = mkTable(200)
    MergeTable.upsert(spark, dir, Seq((7L, "UP")).toDF("key", "value"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // strip the #fp= lines from both manifests (a pre-fingerprint table)
    Seq(1L, 2L).foreach { v =>
      val p = new org.apache.hadoop.fs.Path(
        f"$dir/_manifests/v$v%09d")
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filterNot(_.startsWith("#fp=")).mkString("\n")
        finally in.close()
      fs.delete(p, false)
      val o = fs.create(p, true)
      try o.write(body.getBytes("UTF-8")) finally o.close()
    }
    val changed = MergeTable.changedBuckets(spark, dir, 1L, 2L)
    assert(changed.size === 1,
      "legacy file-list pruning must still skip every quiet bucket")
    val cf = MergeTable.changes(spark, dir, 1L, 2L)
      .select("key", "change").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cf === Map(7L -> "update"))
  }

  test("fsckDeep: a clean table re-attests across upsert + rebucket + " +
      "optimize; a corrupted live file is pinpointed to its bucket " +
      "(invisible to the metadata fsck); stripped fingerprints report " +
      "unattested, never verified") {
    import spark.implicits._
    val dir = mkTable(200)
    MergeTable.upsert(spark, dir,
      Seq((5L, "changed"), (201L, "ins")).toDF("key", "value"))
    MergeTable.rebucket(spark, dir, 1)
    MergeTable.optimize(spark, dir, "value")
    val clean = MergeTable.fsckDeep(spark, dir)
    assert(clean.bucketsChecked > 0L)
    assert(clean.mismatched.isEmpty,
      s"clean table must re-attest: ${clean.mismatched}")
    assert(clean.unattested.isEmpty)
    // time travel re-attests HISTORY: the pre-migration snapshot's
    // fingerprints were inherited across commits, and the recompute
    // over its own epoch files must still agree
    val v1 = MergeTable.fsckDeep(spark, dir, Some(1L))
    assert(v1.mismatched.isEmpty && v1.unattested.isEmpty)
    // corrupt ONE live file in place: same path, same schema, same
    // row count, one payload value altered — the metadata fsck (a
    // name walk) stays clean, the content audit must pinpoint it
    val filePath = MergeTable.readTable(spark, dir)
      .select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0)).sorted.head
    val local = java.nio.file.Paths.get(new java.net.URI(filePath))
    val one = spark.read.parquet(filePath)
    val minKey = one.agg(min("key")).collect().head.getLong(0)
    val tmp = java.nio.file.Files.createTempDirectory("graft-corrupt")
    one.withColumn("value",
        when(col("key") === minKey, lit("BITROT"))
          .otherwise(col("value")))
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
      .filter { p =>
        val n = java.nio.file.Paths.get(p).getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.head
    java.nio.file.Files.copy(java.nio.file.Paths.get(part), local,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the Hadoop local-fs checksum sidecar: the spec models
    // corruption the STORAGE does not catch (object stores carry no
    // client-side crc), so the read must reach the audit, not fail
    // in the filesystem layer
    java.nio.file.Files.deleteIfExists(
      local.getParent.resolve("." + local.getFileName + ".crc"))
    val meta = MergeTable.fsck(spark, dir)
    assert(meta.orphans === 0L && meta.missing === 0L,
      "an in-place content corruption must be invisible to the name " +
        "walk — that blindness is what fsckDeep exists to close")
    val bucket = "bucket=([0-9a-f]+)".r
      .findFirstMatchIn(filePath).get.group(1)
    val deep = MergeTable.fsckDeep(spark, dir)
    assert(deep.mismatched === Seq(bucket),
      s"corruption in bucket $bucket mislocated: ${deep.mismatched}")
    // stripped fingerprints (legacy writer): content can't be
    // verified and the report says so instead of pretending
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = MergeTable.versions(spark, dir).last
    val p = new org.apache.hadoop.fs.Path(f"$dir/_manifests/v$cur%09d")
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filterNot(_.startsWith("#fp=")).mkString("\n")
      finally in.close()
    fs.delete(p, false)
    val o = fs.create(p, true)
    try o.write(body.getBytes("UTF-8")) finally o.close()
    val legacy = MergeTable.fsckDeep(spark, dir)
    assert(legacy.bucketsChecked === 0L && legacy.mismatched.isEmpty &&
      legacy.unattested.nonEmpty)
  }

  test("a zero-length manifest BELOW the newest version is a legacy " +
      "committed-empty snapshot: it stays in history, reads as the " +
      "named empty error, and its number can never be re-committed") {
    import spark.implicits._
    val dir = mkTable(30)
    MergeTable.upsert(spark, dir, Seq((1L, "x")).toDF("key", "value"))
    MergeTable.upsert(spark, dir, Seq((2L, "y")).toDF("key", "value"))
    // rewrite v2's manifest to the legacy empty form (zero bytes): the
    // pre-header writer's representation of an all-rows-deleted
    // commit, now sitting BELOW the non-empty v3
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v2 = new org.apache.hadoop.fs.Path(s"$dir/_manifests/v000000002")
    fs.delete(v2, false)
    fs.create(v2, true).close()
    assert(MergeTable.versions(spark, dir) === Seq(1L, 2L, 3L),
      "a legacy empty snapshot below the top is committed history")
    val err = intercept[IllegalStateException] {
      MergeTable.readTable(spark, dir, Some(2L)).count()
    }
    assert(err.getMessage.contains("EMPTY"))
    // its version number is history — re-committing it would hand two
    // different contents the same version id
    val reuse = intercept[IllegalArgumentException] {
      MergeTable.commitManifest(spark, dir, 2L,
        MergeTable.ManifestData(entries = Seq("v=2-0x0/bucket=aa/w.parquet")))
    }
    assert(reuse.getMessage.contains("legacy committed-empty"))
    // the table itself still reads at head and at v1/v3
    assert(MergeTable.readTable(spark, dir).count() === 30L)
    assert(MergeTable.readTable(spark, dir, Some(1L)).count() === 30L)
  }

  test("a vacuum sweeping the loser's promotion temp mid-commit maps " +
      "to a clean conflict (retryable), never a raw missing-file " +
      "error — the local-fs branch matches the HDFS contract") {
    val dir = mkTable(20)
    // between writer A's temp write and its promotion: the version is
    // committed by a winner AND a vacuum sweeps A's now-stale temp —
    // exactly the NoSuchFileException window the advice named
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val err = intercept[MergeTable.CommitConflictException] {
      MergeTable.commitManifest(spark, dir, 2L,
        MergeTable.ManifestData(entries = Seq("v=2-1x1/bucket=aa/a.parquet")),
        beforePromote = () => {
          MergeTable.commitManifest(spark, dir, 2L, MergeTable.ManifestData(
            entries = Seq("v=2-2x2/bucket=bb/b.parquet"))) // the winner lands
          // the concurrent vacuum's stale-temp sweep (v2 ≤ cur now)
          fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_manifests"))
            .filter(_.getPath.getName.endsWith(".tmp"))
            .foreach(st => fs.delete(st.getPath, false))
        })
    }
    assert(err.getMessage.contains("commit conflict"))
    // the winner's manifest is intact
    assert(MergeTable.versions(spark, dir) === Seq(1L, 2L))
  }

  test("a version whose every row died reads as a NAMED empty-table " +
      "error, and the prior version still reads in full") {
    import spark.implicits._
    val dir = mkTable(10)
    MergeTable.deleteKeys(spark, dir, (1L to 10L).toDF("key"))
    val err = intercept[IllegalStateException] {
      MergeTable.readTable(spark, dir).count()
    }
    assert(err.getMessage.contains("EMPTY"))
    assert(MergeTable.readTable(spark, dir, Some(1L)).count() === 10L)
  }

  test("a mismatched key column on an existing table throws") {
    import spark.implicits._
    val dir = mkTable(10)
    val err = intercept[IllegalArgumentException] {
      MergeTable.create((1 to 3).map(i => (i.toLong, "y"))
        .toDF("other", "value"), dir, "other")
    }
    assert(err.getMessage.contains("keyed by"))
  }

  test("fingerprint comparison is 128-bit: a bucket whose SECOND hash " +
      "channel differs is flagged changed even when rows and the first " +
      "sum collide (the h1-cancelling-delta case the old 64-bit sum " +
      "could not distinguish); a legacy two-component attestation " +
      "still agrees on its common prefix") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fp128")
      .resolve("t").toString
    // crafted manifests: same rows (2) and same h1 (100) — exactly what
    // two offsetting payload changes whose seed-42 deltas cancel would
    // attest — but the independent fp2 channel disagrees
    MergeTable.commitManifest(spark, dir, 1L, MergeTable.ManifestData(
      entries = Seq("v=1-0x0/bucket=aa/a.parquet"),
      fps = Map("aa" -> "2:100:555")))
    MergeTable.commitManifest(spark, dir, 2L, MergeTable.ManifestData(
      entries = Seq("v=2-0x0/bucket=aa/b.parquet"),
      fps = Map("aa" -> "2:100:666")))
    assert(MergeTable.changedBuckets(spark, dir, 1L, 2L) === Seq("aa"),
      "an h1 collision must not slip past the second channel")
    // legacy (pre-upgrade) endpoint: two components compare on the
    // common prefix — the old 64-bit guarantee, not a spurious rescan
    MergeTable.commitManifest(spark, dir, 3L, MergeTable.ManifestData(
      entries = Seq("v=2-0x0/bucket=aa/b.parquet"),
      fps = Map("aa" -> "2:100")))
    assert(MergeTable.changedBuckets(spark, dir, 2L, 3L) === Seq.empty,
      "a legacy attestation agreeing on rows+h1 must prune")
    // and a freshly-written table attests THREE components
    val t = mkTable(20)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$t/_manifests/v000000001"))
    val fpLines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.startsWith("#fp=")).toList
      finally in.close()
    assert(fpLines.nonEmpty &&
      fpLines.forall(_.count(_ == ':') == 3), // bucket:n:h1:h2
      s"current commits must attest both hash channels: $fpLines")
  }

  test("idempotency tokens are carried forward by EVERY committer " +
      "(upsert, optimize, rebucket, restore), so a vacuum retaining " +
      "one version after interleaved non-token writes still answers " +
      "lastAppliedBatch — the crash-replay gate survives maintenance") {
    import spark.implicits._
    val dir = mkTable(50)
    MergeTable.merge(spark, dir,
      Seq((51L, "ins")).toDF("key", "value"),
      notMatched = Seq(MergeTable.MergeWhen(None,
        MergeTable.MergeAction.UpdateAll)),
      idempotencyToken = Some("streamA:7"))
    assert(MergeTable.lastAppliedBatch(spark, dir, "streamA") === Some(7L))
    // interleaved NON-token writers — each must carry streamA:7 forward
    MergeTable.upsert(spark, dir, Seq((1L, "upd")).toDF("key", "value"))
    MergeTable.optimize(spark, dir, "key")
    MergeTable.rebucket(spark, dir, 1)
    val restored = MergeTable.restore(spark, dir,
      MergeTable.versions(spark, dir).last - 1)
    assert(restored > 0)
    // drop everything but the newest version: the token must survive
    MergeTable.vacuum(spark, dir, retainVersions = 1, minFileAgeMs = 0)
    assert(MergeTable.versions(spark, dir).size === 1)
    assert(MergeTable.lastAppliedBatch(spark, dir, "streamA") === Some(7L),
      "the replay gate must ride every snapshot, not just the one " +
        "that committed it")
    // a second stream's token joins the map without displacing the first
    MergeTable.merge(spark, dir,
      Seq((52L, "ins2")).toDF("key", "value"),
      notMatched = Seq(MergeTable.MergeWhen(None,
        MergeTable.MergeAction.UpdateAll)),
      idempotencyToken = Some("streamB:3"))
    assert(MergeTable.lastAppliedBatch(spark, dir, "streamA") === Some(7L))
    assert(MergeTable.lastAppliedBatch(spark, dir, "streamB") === Some(3L))
    // a replayed (stale) token never regresses the frontier
    MergeTable.merge(spark, dir,
      Seq((53L, "ins3")).toDF("key", "value"),
      notMatched = Seq(MergeTable.MergeWhen(None,
        MergeTable.MergeAction.UpdateAll)),
      idempotencyToken = Some("streamA:5"))
    assert(MergeTable.lastAppliedBatch(spark, dir, "streamA") === Some(7L),
      "a replayed older batch id must not rewind the frontier")
  }

  test("restore re-validates CHECK constraints: rolling back to a " +
      "pre-constraint snapshot that violates a declared invariant " +
      "fails loudly and commits nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rescon")
      .resolve("t").toString
    // v1 carries a negative value; v2 cleans it; the constraint is then
    // declared against the CLEAN head (addConstraint validates v2)
    MergeTable.create(Seq((1L, -5L), (2L, 10L)).toDF("key", "cents"),
      dir, "key")
    MergeTable.upsert(spark, dir, Seq((1L, 5L)).toDF("key", "cents"))
    MergeTable.addConstraint(spark, dir, "nonneg", "cents >= 0")
    val err = intercept[IllegalStateException] {
      MergeTable.restore(spark, dir, 1L)
    }
    assert(err.getMessage.contains("nonneg"),
      s"restore to a violating snapshot must name the constraint: $err")
    assert(MergeTable.versions(spark, dir) === Seq(1L, 2L),
      "a rejected restore must commit nothing")
    // dropping the constraint makes the rollback legal again — the
    // operator's explicit two-step
    MergeTable.dropConstraint(spark, dir, "nonneg")
    assert(MergeTable.restore(spark, dir, 1L) === 3L)
    assert(MergeTable.readTable(spark, dir)
      .filter(col("cents") < 0).count() === 1L)
  }
}

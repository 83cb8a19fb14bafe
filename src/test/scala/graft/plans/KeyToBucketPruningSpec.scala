package graft.plans

import graft.{SparkJobs, SparkSpec}
import graft.ext.MergeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Point-lookup partition pruning: a `key = lit` / `key IN (...)`
  * filter on a MergeTable scan must become a `bucket IN` partition
  * filter (the md5-prefix arithmetic done at plan time), reading only
  * the impacted buckets' files — and must stay SILENT (full scan, same
  * rows) on every off-pattern shape where firing could be unsound. */
class KeyToBucketPruningSpec extends SparkSpec {

  KeyToBucketPruning.enable(spark)

  private def mkTable(n: Int = 500): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kbp")
      .resolve("t").toString
    MergeTable.create(
      (1 to n).map(i => (i.toLong, s"v$i")).toDF("key", "value"),
      dir, "key")
    dir
  }

  private def scanOf(df: DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no file scan in plan:\n" +
      df.queryExecution.executedPlan.toString))

  private def filesOf(df: DataFrame): Long =
    scanOf(df).selectedPartitions.totalNumberOfFiles

  private def expectedBuckets(keys: Seq[Long], hex: Int = 2): Int =
    keys.map(k => KeyToBucketPruning.bucketOf(k.toString, hex))
      .distinct.size

  test("key equality prunes the scan to ONE bucket's file, as a " +
      "partition filter, and returns exactly the matched row") {
    val dir = mkTable()
    val q = MergeTable.readTable(spark, dir).filter(col("key") === 7L)
    val plan = q.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters:"))
      .getOrElse("")
    assert(pf.contains("bucket"),
      s"key literal did not become a bucket partition filter: $pf\n$plan")
    assert(filesOf(q) === 1, s"expected 1 file, plan:\n$plan")
    val rows = q.select("key", "value").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((7L, "v7")))
  }

  test("IN over more than ten keys (the InSet path after OptimizeIn) " +
      "prunes to exactly the keys' distinct buckets") {
    val dir = mkTable()
    val keys = (1L to 15L).toSeq
    val q = MergeTable.readTable(spark, dir)
      .filter(col("key").isin(keys: _*))
    assert(filesOf(q) === expectedBuckets(keys))
    assert(q.count() === 15L)
  }

  test("pruning survives a projection that drops the bucket column " +
      "(predicate pushdown carries the filter below the Project)") {
    val dir = mkTable()
    val q = MergeTable.readTable(spark, dir)
      .select("key", "value")
      .filter(col("key") === 42L)
    assert(filesOf(q) === 1)
    assert(q.collect().map(_.getString(1)).toSeq === Seq("v42"))
  }

  test("a DERIVED key predicate does not prune (rule fires only on the " +
      "bare attribute) and the result is still exact") {
    val dir = mkTable()
    // (key + 0 would be constant-folded back to the bare attribute and
    // legitimately prune; key * 2 = 14 stays a derived comparand)
    val q = MergeTable.readTable(spark, dir)
      .filter((col("key") * 2L) === 14L)
    assert(filesOf(q) > 1, "derived predicate must not be treated as a lookup")
    assert(q.select("value").collect().map(_.getString(0)).toSeq ===
      Seq("v7"))
  }

  test("self-join: the per-side pushed filters prune their own side; " +
      "the joined result is exact") {
    val dir = mkTable()
    val a = MergeTable.readTable(spark, dir).select(
      col("key"), col("value").as("va"))
    val b = MergeTable.readTable(spark, dir).select(
      col("key"), col("value").as("vb"))
    val j = a.join(b, Seq("key")).filter(col("key") === 7L)
    val rows = j.collect()
    assert(rows.length === 1)
    assert(rows.head.getString(1) === "v7" && rows.head.getString(2) === "v7")
  }

  test("string-keyed table: lookups prune with the string's own md5") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kbp-s")
      .resolve("t").toString
    MergeTable.create(
      (1 to 300).map(i => (s"id-$i", i)).toDF("key", "n"), dir, "key")
    val q = MergeTable.readTable(spark, dir).filter(col("key") === "id-7")
    assert(filesOf(q) === 1)
    assert(q.select("n").collect().map(_.getInt(0)).toSeq === Seq(7))
  }

  test("the width travels in the FOOTERS: a time-travel read of the " +
      "pre-rebucket snapshot prunes at the OLD width while the live " +
      "read prunes at the new one") {
    val dir = mkTable()
    MergeTable.rebucket(spark, dir, 1)
    val old = MergeTable.readTable(spark, dir, Some(1L))
      .filter(col("key") === 7L)
    val live = MergeTable.readTable(spark, dir).filter(col("key") === 7L)
    assert(filesOf(old) === 1 && filesOf(live) === 1)
    assert(old.select("value").collect().head.getString(0) === "v7")
    assert(live.select("value").collect().head.getString(0) === "v7")
    // and the buckets really differ in width across the two snapshots
    assert(old.select("bucket").collect().head.getString(0).length === 2)
    assert(live.select("bucket").collect().head.getString(0).length === 1)
  }

  test("pruned lookups see COW semantics: an upsert's latest value and " +
      "an inserted key are both visible through the pruned read") {
    import spark.implicits._
    val dir = mkTable()
    MergeTable.upsert(spark, dir,
      Seq((7L, "SEVEN"), (901L, "new")).toDF("key", "value"))
    val q = MergeTable.readTable(spark, dir)
      .filter(col("key").isin(7L, 901L))
    assert(filesOf(q) === expectedBuckets(Seq(7L, 901L)))
    assert(q.select("key", "value").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ===
      Seq((7L, "SEVEN"), (901L, "new")))
  }

  test("readKeys (the API twin) reads only the impacted buckets' files " +
      "and matches the filtered readTable row for row") {
    val dir = mkTable()
    val keys: Seq[Any] = Seq(7L, 13L, 400L)
    val api = MergeTable.readKeys(spark, dir, keys)
    assert(api.inputFiles.length ===
      expectedBuckets(Seq(7L, 13L, 400L)))
    val viaFilter = MergeTable.readTable(spark, dir)
      .filter(col("key").isin(7L, 13L, 400L))
      .select("key", "value").collect().map(r => (r.getLong(0),
        r.getString(1))).sortBy(_._1).toSeq
    assert(api.select("key", "value").collect().map(r => (r.getLong(0),
      r.getString(1))).sortBy(_._1).toSeq === viaFilter)
  }

  test("readKeys reads a PRIOR version's state exactly (time travel) " +
      "and rejects unsupported key types loudly") {
    import spark.implicits._
    val dir = mkTable()
    MergeTable.upsert(spark, dir, Seq((7L, "SEVEN")).toDF("key", "value"))
    assert(MergeTable.readKeys(spark, dir, Seq(7L), Some(1L))
      .select("value").collect().head.getString(0) === "v7")
    assert(MergeTable.readKeys(spark, dir, Seq(7L))
      .select("value").collect().head.getString(0) === "SEVEN")
    val e = intercept[IllegalArgumentException] {
      MergeTable.readKeys(spark, dir, Seq(3.14))
    }
    assert(e.getMessage.contains("integral and string"))
  }

  test("a join partner's own unrelated 'bucket' column is never " +
      "constrained by the key's md5: rows survive exactly") {
    import spark.implicits._
    val dir = mkTable()
    // partner carries a STRING column named bucket whose values have
    // nothing to do with md5 — mis-pruning on it would drop the row
    val partner = Seq((7L, "zz-not-a-hash"), (8L, "qq"))
      .toDF("key", "bucket")
    val j = MergeTable.readTable(spark, dir).select("key", "value")
      .join(partner, Seq("key"))
      .filter(col("key") === 7L)
    val rows = j.collect()
    assert(rows.length === 1)
    assert(rows.head.getString(1) === "v7" &&
      rows.head.getString(2) === "zz-not-a-hash")
  }

  test("a UNION of two snapshots at DIFFERENT widths (across rebucket) " +
      "keeps both sides' rows: each side prunes at its own width after " +
      "pushdown, and the mixed-width union itself is never rewritten") {
    val dir = mkTable()
    MergeTable.rebucket(spark, dir, 1)
    val u = MergeTable.readTable(spark, dir, Some(1L))
      .select("key", "value", "bucket")
      .unionByName(MergeTable.readTable(spark, dir)
        .select("key", "value", "bucket"))
      .filter(col("key") === 7L)
    val rows = u.collect()
    assert(rows.length === 2,
      s"a snapshot's rows were lost to a wrong-width bucket filter: " +
        rows.mkString(","))
    assert(rows.map(_.getString(2)).map(_.length).sorted.toSeq ===
      Seq(1, 2), "expected one row per width")
  }

  test("a lookup of keys that all hash to ABSENT buckets returns empty " +
      "without error on both paths") {
    import spark.implicits._
    // single-row table: most buckets absent
    val dir = java.nio.file.Files.createTempDirectory("graft-kbp-e")
      .resolve("t").toString
    MergeTable.create(Seq((1L, "one")).toDF("key", "value"), dir, "key")
    val miss = (100L to 120L).filter(k =>
      KeyToBucketPruning.bucketOf(k.toString, 2) !=
        KeyToBucketPruning.bucketOf("1", 2))
    assert(MergeTable.readKeys(spark, dir, miss).count() === 0L)
    assert(MergeTable.readTable(spark, dir)
      .filter(col("key").isin(miss: _*)).count() === 0L)
  }

  test("a DERIVED table round-tripped through plain parquet does not " +
      "fire the rule: the footer stamp survives the round trip, but a " +
      "'bucket' DATA column may no longer satisfy the key↔bucket " +
      "invariant — only a real partition column is trusted") {
    import spark.implicits._
    val dir = mkTable(100)
    val out = java.nio.file.Files.createTempDirectory("graft-kbp-d")
      .resolve("derived").toString
    // legal derivation: overwrite the bucket column (upsert permits a
    // batch carrying one), then land as PLAIN parquet — bucket is now
    // an ordinary data column whose values violate the invariant
    MergeTable.readTable(spark, dir)
      .withColumn("bucket", lit("zz"))
      .write.parquet(out)
    val q = spark.read.parquet(out).filter(col("key") === 7L)
    // the key attribute still wears the footer stamp — the old rule
    // would conjoin bucket IN ('<md5(7)>') and silently drop the row
    val rows = q.select("key", "value").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((7L, "v7")),
      "the rule fired on a non-partition bucket column and lost rows")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("bucket IN"),
      s"rule must stay silent on a data-column bucket:\n$plan")
  }

  // ---- driver-side collect of single-bucket lookups (DriverLookup) ----

  /** The lookup's rows through BOTH paths — the driver collect
    * (`executeCollect` of the DriverLookupExec root) and the scheduled
    * scan (`toRdd`, which runs the wrapped child) — asserted equal row
    * for row, as Catalyst values. */
  private def driverVsScheduled(df: DataFrame): Seq[Seq[Any]] = {
    val plan = df.queryExecution.executedPlan
    assert(plan.isInstanceOf[DriverLookupExec],
      s"single-bucket lookup did not plan a driver collect:\n$plan")
    val types = df.schema.map(_.dataType)
    def vals(r: InternalRow): Seq[Any] = types.zipWithIndex.map {
      case (t, i) => if (r.isNullAt(i)) null else r.get(i, t)
    }
    val driver = plan.executeCollect().toSeq.map(vals)
    val scheduled = df.queryExecution.toRdd.map(_.copy()).collect()
      .toSeq.map(vals)
    assert(driver === scheduled)
    driver
  }

  private def keyValue(df: DataFrame): Seq[(Long, String)] =
    df.select("key", "value").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  private def bucket2(k: Any): String =
    KeyToBucketPruning.bucketOf(k.toString, 2)

  test("driver collect equals the scheduled scan row for row: present, " +
      "absent-in-live-bucket and absent-bucket keys, an IN-list inside " +
      "one bucket, a subset projection with an extra predicate, readKeys") {
    val dir = mkTable()
    val t = MergeTable.readTable(spark, dir)
    val present = driverVsScheduled(
      t.filter(col("key") === 7L).select("key", "value"))
    assert(present.map(r => (r(0), r(1).toString)) === Seq((7L, "v7")))
    assert(keyValue(t.filter(col("key") === 7L)) === Seq((7L, "v7")))

    val live = (1 to 500).map(bucket2).toSet
    val absentLive = (501L to 5000L).find(k => live.contains(bucket2(k))).get
    assert(driverVsScheduled(t.filter(col("key") === absentLive)).isEmpty)

    val pair = (1L to 500L).groupBy(bucket2).values
      .find(_.size >= 2).get.take(2)
    val inOne = t.filter(col("key").isin(pair: _*))
    assert(driverVsScheduled(inOne.select("key", "value"))
      .map(_.head).toSet === pair.toSet)

    val sub = t.filter(col("key") === 42L && col("value").startsWith("v"))
      .select("value")
    assert(driverVsScheduled(sub).map(_.head.toString) === Seq("v42"))
    assert(driverVsScheduled(t.filter(col("key") === 42L &&
      col("value") =!= "v42").select("value")).isEmpty)

    val api = MergeTable.readKeys(spark, dir, Seq(13L))
    assert(driverVsScheduled(api.select("key", "value"))
      .map(r => (r(0), r(1).toString)) === Seq((13L, "v13")))

    // a key hashing to a bucket the (one-row) table does not hold
    import spark.implicits._
    val one = java.nio.file.Files.createTempDirectory("graft-kbp-dl")
      .resolve("t").toString
    MergeTable.create(Seq((1L, "one")).toDF("key", "value"), one, "key")
    val far = (100L to 200L).find(k => bucket2(k) != bucket2(1L)).get
    assert(driverVsScheduled(MergeTable.readTable(spark, one)
      .filter(col("key") === far)).isEmpty)
  }

  test("driver collect equals the scheduled scan on a string key, SQL " +
      "time travel, a renamed column and an int->long widened column") {
    import spark.implicits._
    val sdir = java.nio.file.Files.createTempDirectory("graft-kbp-ds")
      .resolve("t").toString
    MergeTable.create(
      (1 to 300).map(i => (s"id-$i", i)).toDF("key", "n"), sdir, "key")
    assert(driverVsScheduled(MergeTable.readTable(spark, sdir)
      .filter(col("key") === "id-7").select("n")) === Seq(Seq(7)))

    val dir = mkTable()
    MergeTable.upsert(spark, dir, Seq((7L, "SEVEN")).toDF("key", "value"))
    val sql = (v: String) => spark.sql(
      s"SELECT key, value FROM merge_table('$dir'$v) WHERE key = 7")
    assert(driverVsScheduled(sql(", 1")).map(_(1).toString) === Seq("v7"))
    assert(driverVsScheduled(sql("")).map(_(1).toString) === Seq("SEVEN"))

    MergeTable.renameColumn(spark, dir, "value", "label"): Unit
    val renamed = MergeTable.readTable(spark, dir)
      .filter(col("key") === 9L).select("label")
    assert(driverVsScheduled(renamed).map(_.head.toString) === Seq("v9"))

    val wdir = java.nio.file.Files.createTempDirectory("graft-kbp-dw")
      .resolve("t").toString
    MergeTable.create(
      (1 to 200).map(i => (i.toLong, i * 3)).toDF("key", "qty"), wdir, "key")
    MergeTable.widenColumn(spark, wdir, "qty", "bigint"): Unit
    val wide = MergeTable.readTable(spark, wdir).filter(col("key") === 11L)
      .select("qty")
    assert(wide.schema.head.dataType === org.apache.spark.sql.types.LongType)
    assert(driverVsScheduled(wide) === Seq(Seq(33L)))
  }

  test("a data file deleted under the snapshot fails the driver " +
      "collect and the scheduled scan alike") {
    val dir = mkTable()
    val q = MergeTable.readTable(spark, dir).filter(col("key") === 7L)
    assert(q.queryExecution.executedPlan.isInstanceOf[DriverLookupExec])
    val victim = scanOf(q).selectedPartitions.filePartitionIterator
      .flatMap(_.files).toSeq.head.getPath
    new java.io.File(victim.toUri).delete(): Unit
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    val driver = chain(intercept[Exception](q.collect()))
    val scheduled = chain(intercept[Exception](
      q.queryExecution.toRdd.map(_.copy()).collect()))
    for (c <- Seq(driver, scheduled)) {
      assert(c.exists(_.isInstanceOf[java.io.FileNotFoundException]), c)
      assert(c.exists(e => String.valueOf(e.getMessage)
        .contains(victim.getName)), c)
    }
  }

  test("a warmed single-bucket lookup runs no Spark job (SQL and " +
      "readKeys); two-bucket IN-lists and DV-bearing snapshots keep the " +
      "scheduled scan; the plan and the scan metrics read as before") {
    import spark.implicits._
    val dir = mkTable()
    val sql = (k: Long) => spark.sql(
      s"SELECT key, value FROM merge_table('$dir') WHERE key = $k")
    keyValue(sql(3L)): Unit // warm: relation and reader caches
    var rows = Seq.empty[(Long, String)]
    val q = sql(7L)
    assert(SparkJobs.during(spark) {
      rows = q.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    } === 0)
    assert(rows === Seq((7L, "v7")))
    // the collected plan keeps the pruned scan, and its metrics count
    val scan = scanOf(q)
    assert(scan.partitionFilters.exists(_.references.exists(
      _.name == KeyToBucketPruning.BucketColName)), scan.partitionFilters)
    assert(scan.metrics("numFiles").value === 1L)

    MergeTable.readKeys(spark, dir, Seq(13L)).collect(): Unit
    assert(SparkJobs.during(spark) {
      rows = keyValue(MergeTable.readKeys(spark, dir, Seq(13L)))
    } === 0)
    assert(rows === Seq((13L, "v13")))

    val two = (1L to 500L).groupBy(bucket2).values.toSeq
      .sortBy(_.head).take(2).map(_.head)
    val multi = MergeTable.readTable(spark, dir).filter(col("key").isin(two: _*))
    assert(!multi.queryExecution.executedPlan.isInstanceOf[DriverLookupExec])
    assert(SparkJobs.during(spark) { rows = keyValue(multi) } > 0)
    assert(rows.toSet === two.map(k => (k, s"v$k")).toSet)

    // q181's shape: a merge-on-read delete leaves tombstones, and the
    // lookup reads through the DV union + anti-join
    val dv = java.nio.file.Files.createTempDirectory("graft-kbp-dv")
      .resolve("t").toString
    MergeTable.create((1 to 500).map(i => (i.toLong, s"v$i"))
      .toDF("key", "value"), dv, "key", hexDigits = 1)
    val b7 = KeyToBucketPruning.bucketOf("7", 1)
    val dead = (1L to 500L).find(k => k != 7L &&
      KeyToBucketPruning.bucketOf(k.toString, 1) == b7).get
    MergeTable.deleteKeysMor(spark, dv, Seq(dead).toDF("key")): Unit
    val dvq = (k: Long) => spark.sql(
      s"SELECT key, value FROM merge_table('$dv') WHERE key = $k")
    assert(!dvq(7L).queryExecution.executedPlan
      .isInstanceOf[DriverLookupExec])
    keyValue(dvq(7L)): Unit
    assert(SparkJobs.during(spark) { rows = keyValue(dvq(7L)) } > 0)
    assert(rows === Seq((7L, "v7")))
    assert(keyValue(dvq(dead)).isEmpty)
  }
}

package graft.plans

import graft.{PlanPhases, SparkJobs, SparkSpec}
import graft.ext.MergeTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Prepared point lookups: a `merge_table` key lookup in SQL (and
  * `readKeys`) analyzes to one [[MergeTableLookup]] leaf, and must read
  * exactly what the general path reads — the same query in a shape the
  * matcher does not take, `readTable(...).filter(col(key) === k)
  * .select(...)` — row for row, under the same schema (names, types,
  * nullability). Every shape the leaf cannot serve identically falls
  * back to the general path. */
class PreparedLookupSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-pl-$tag")
      .resolve("t").toString

  private def mkTable(n: Int = 500): String = {
    val dir = tmp("t")
    MergeTable.create((1 to n).map(i => (i.toLong, s"v$i", i * 10))
      .toDF("id", "name", "stars"), dir, "id")
    dir
  }

  private def lookup(dir: String, cols: String, cond: String,
      version: String = ""): DataFrame =
    spark.sql(s"SELECT $cols FROM merge_table('$dir'$version) WHERE $cond")

  private def prepared(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[MergeTableLookup]

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** `df`'s rows and schema equal the reference's; its rows back. */
  private def same(df: DataFrame, reference: DataFrame): Seq[Row] = {
    assert(df.schema === reference.schema)
    val rows = sorted(df)
    assert(rows === sorted(reference))
    rows
  }

  /** A prepared lookup reading what `reference` reads. */
  private def samePrepared(df: DataFrame, reference: DataFrame): Seq[Row] = {
    assert(prepared(df), df.queryExecution.analyzed.treeString)
    same(df, reference)
  }

  /** A lookup the leaf does not serve: the general path, same rows. */
  private def sameFallback(df: DataFrame, reference: DataFrame): Seq[Row] = {
    assert(!prepared(df), df.queryExecution.analyzed.treeString)
    same(df, reference)
  }

  private def scanOf(df: DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail(s"no file scan:\n${df.queryExecution.executedPlan}"))

  private def bucket2(k: Long): String =
    KeyToBucketPruning.bucketOf(k.toString, 2)

  test("present, absent and empty-bucket keys read the general path's " +
      "rows; an int literal binds to the long key") {
    val dir = mkTable()
    val t = MergeTable.readTable(spark, dir)
    assert(samePrepared(lookup(dir, "*", "id = 7"),
      t.filter(col("id") === 7L)).map(_.getString(1)) === Seq("v7"))
    val live = (1L to 500L).map(bucket2).toSet
    val absent = (501L to 5000L).find(k => live.contains(bucket2(k))).get
    assert(samePrepared(lookup(dir, "*", s"id = $absent"),
      t.filter(col("id") === absent)).isEmpty)
    assert(samePrepared(lookup(dir, "*", "id = 3000000000"),
      t.filter(col("id") === 3000000000L)).isEmpty)

    val one = tmp("one")
    MergeTable.create(Seq((1L, "one", 1)).toDF("id", "name", "stars"),
      one, "id")
    val far = (100L to 200L).find(k => bucket2(k) != bucket2(1L)).get
    val empty = lookup(one, "*", s"id = $far")
    assert(samePrepared(empty,
      MergeTable.readTable(spark, one).filter(col("id") === far)).isEmpty)
    assert(scanOf(empty).metrics("numFiles").value === 0L)
    assert(samePrepared(lookup(one, "name", "1 = id"),
      MergeTable.readTable(spark, one).filter(col("id") === 1L)
        .select("name")).map(_.getString(0)) === Seq("one"))
  }

  test("a string key, SELECT * and subset projections with backticked " +
      "and case-different names") {
    val sdir = tmp("s")
    MergeTable.create((1 to 300).map(i => (s"id-$i", i)).toDF("key", "n"),
      sdir, "key")
    val s = MergeTable.readTable(spark, sdir)
    assert(samePrepared(lookup(sdir, "n", "key = 'id-7'"),
      s.filter(col("key") === "id-7").select("n")).map(_.getInt(0)) ===
      Seq(7))
    samePrepared(lookup(sdir, "*", "KEY = 'id-300'"),
      s.filter(col("key") === "id-300"))

    val dir = mkTable()
    val t = MergeTable.readTable(spark, dir)
    val rows = samePrepared(
      lookup(dir, "`NAME`, ID, stars, `bucket`", "Id = 42"),
      t.filter(col("id") === 42L)
        .select(col("NAME"), col("ID"), col("stars"), col("bucket")))
    assert(rows.map(r => (r.getString(0), r.getLong(1))) ===
      Seq(("v42", 42L)))
    assert(lookup(dir, "`NAME`, ID", "Id = 42").columns.toSeq ===
      Seq("NAME", "ID"))
  }

  test("a version number and a tag read the snapshot they name") {
    val dir = mkTable()
    MergeTable.upsert(spark, dir, Seq((7L, "SEVEN", 1)).toDF("id", "name",
      "stars")): Unit
    MergeTable.tag(spark, dir, "first", Some(1L)): Unit
    val v1 = MergeTable.readTable(spark, dir, Some(1L))
      .filter(col("id") === 7L)
    assert(samePrepared(lookup(dir, "*", "id = 7", ", 1"), v1)
      .map(_.getString(1)) === Seq("v7"))
    samePrepared(lookup(dir, "*", "id = 7", ", 'first'"), v1)
    assert(samePrepared(lookup(dir, "*", "id = 7", ", 2"),
      MergeTable.readTable(spark, dir).filter(col("id") === 7L))
      .map(_.getString(1)) === Seq("SEVEN"))
  }

  test("a renamed column and a widened column read under the " +
      "snapshot's names and types") {
    val dir = mkTable()
    MergeTable.renameColumn(spark, dir, "name", "label"): Unit
    val t = MergeTable.readTable(spark, dir)
    samePrepared(lookup(dir, "*", "id = 9"), t.filter(col("id") === 9L))
    assert(samePrepared(lookup(dir, "label, id", "id = 9"),
      t.filter(col("id") === 9L).select("label", "id"))
      .map(_.getString(0)) === Seq("v9"))

    MergeTable.widenColumn(spark, dir, "stars", "bigint"): Unit
    val wide = lookup(dir, "stars", "id = 11")
    assert(wide.schema.head.dataType === org.apache.spark.sql.types.LongType)
    assert(samePrepared(wide, MergeTable.readTable(spark, dir)
      .filter(col("id") === 11L).select("stars")).map(_.getLong(0)) ===
      Seq(110L))
  }

  test("a parameterized statement binds its parameter through the " +
      "delegate parser and prepares like a literal") {
    val dir = mkTable()
    val q = spark.sql(
      s"SELECT name FROM merge_table('$dir') WHERE id = :k", Map("k" -> 7L))
    assert(samePrepared(q, MergeTable.readTable(spark, dir)
      .filter(col("id") === 7L).select("name")).map(_.getString(0)) ===
      Seq("v7"))
  }

  test("a commit between analysis and collect reads the analyzed " +
      "snapshot; a commit between two lookups is seen by the second") {
    val dir = mkTable()
    val q = lookup(dir, "name", "id = 7")
    val ref = MergeTable.readTable(spark, dir).filter(col("id") === 7L)
      .select("name")
    MergeTable.upsert(spark, dir, Seq((7L, "SEVEN", 1)).toDF("id", "name",
      "stars")): Unit
    assert(samePrepared(q, ref).map(_.getString(0)) === Seq("v7"))
    assert(samePrepared(lookup(dir, "name", "id = 7"),
      MergeTable.readTable(spark, dir).filter(col("id") === 7L)
        .select("name")).map(_.getString(0)) === Seq("SEVEN"))
  }

  test("a lookup after vacuum reads the surviving snapshot") {
    val dir = mkTable()
    lookup(dir, "*", "id = 7").collect(): Unit
    (1 to 3).foreach(i => MergeTable.upsert(spark, dir,
      Seq((7L, s"r$i", i)).toDF("id", "name", "stars")))
    MergeTable.vacuum(spark, dir, 1, minFileAgeMs = 0L): Unit
    assert(samePrepared(lookup(dir, "*", "id = 7"),
      MergeTable.readTable(spark, dir).filter(col("id") === 7L))
      .map(_.getString(1)) === Seq("r3"))
  }

  test("fallbacks read the general path's rows: deletion vectors, a " +
      "non-key column, an extra conjunct, NULL and cross-type literals") {
    val dir = mkTable()
    val t = MergeTable.readTable(spark, dir)
    sameFallback(lookup(dir, "*", "name = 'v7'"),
      t.filter(col("name") === "v7"))
    sameFallback(lookup(dir, "*", "id = 7 AND stars > 0"),
      t.filter(col("id") === 7L && col("stars") > 0))
    sameFallback(lookup(dir, "*", "id = NULL"),
      t.filter(col("id") === lit(null)))
    sameFallback(lookup(dir, "*", "id = '7'"), t.filter(col("id") === "7"))
    sameFallback(lookup(dir, "*", "id = 7.0"), t.filter(col("id") === 7.0))
    intercept[org.apache.spark.sql.AnalysisException](
      lookup(dir, "*", "nope = 7"))
    intercept[org.apache.spark.sql.AnalysisException](
      lookup(dir, "nope", "id = 7"))

    val dv = mkTable()
    val b7 = bucket2(7L)
    val dead = (1L to 500L).find(k => k != 7L && bucket2(k) == b7).get
    MergeTable.deleteKeysMor(spark, dv, Seq(dead).toDF("id")): Unit
    val d = MergeTable.readTable(spark, dv)
    assert(sameFallback(lookup(dv, "*", "id = 7"),
      d.filter(col("id") === 7L)).map(_.getString(1)) === Seq("v7"))
    assert(sameFallback(lookup(dv, "*", s"id = $dead"),
      d.filter(col("id") === dead)).isEmpty)
    assert(!prepared(MergeTable.readKeys(spark, dv, Seq(7L))))
  }

  test("readKeys builds the same leaf: one bucket on the driver, more " +
      "buckets as a scheduled scan, a self-join under fresh ids") {
    val dir = mkTable()
    val t = MergeTable.readTable(spark, dir)
    val one = MergeTable.readKeys(spark, dir, Seq(7))
    samePrepared(one, t.filter(col("id") === 7L))
    assert(one.queryExecution.executedPlan.isInstanceOf[DriverLookupExec])
    val keys = Seq(7L, 13L, 400L)
    val many = MergeTable.readKeys(spark, dir, keys)
    samePrepared(many, t.filter(col("id").isin(keys: _*)))
    assert(!many.queryExecution.executedPlan.isInstanceOf[DriverLookupExec])
    assert(many.inputFiles.length === keys.map(bucket2).distinct.size)
    val a = MergeTable.readKeys(spark, dir, keys)
    assert(a.as("x").join(a.as("y"), col("x.id") === col("y.id"))
      .count() === 3L)
  }

  test("guard: one leaf, no job when warm, no pruning rule at work, " +
      "and the executed plan keeps the one-file scan") {
    val dir = mkTable()
    val q = (k: Long) => lookup(dir, "id, name", s"id = $k")
    q(3L).collect(): Unit // warm: relation and reader caches
    val df = q(7L)
    assert(df.queryExecution.analyzed.isInstanceOf[MergeTableLookup])
    assert(df.queryExecution.optimizedPlan.isInstanceOf[MergeTableLookup])
    val phases = PlanPhases.of(df)
    val general = PlanPhases.of(lookup(dir, "id, name", "id = 7 AND 1 = 1"))
    assert(general.rule(KeyToBucketPruning.ruleName).effective > 0)
    for (r <- Seq(KeyToBucketPruning.ruleName, StatsFilePruning.ruleName))
      assert(phases.rule(r).effective === 0, r)
    var rows = Seq.empty[Row]
    assert(SparkJobs.during(spark) { rows = df.collect().toSeq } === 0)
    assert(rows === Seq(Row(7L, "v7")))
    val plan = df.queryExecution.executedPlan
    assert(plan.isInstanceOf[DriverLookupExec], plan)
    assert(scanOf(df).metrics("numFiles").value === 1L)
  }
}

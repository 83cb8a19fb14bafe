package graft.ext

import graft.SparkSpec
import graft.plans.MergeTableLookup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType,
  StructType}

/** One logical schema across the read paths. After a rename, a drop and
  * a widen (and an upsert, so the snapshot mixes pre- and post-widen
  * files), every path that reads the table emits the same column names,
  * in the same order, with the same types: the DataFrame read and the
  * key read, a prepared SQL lookup and a general-path IN-list lookup,
  * and the quiet-window changefeed's payload. */
class LogicalSchemaSpec extends SparkSpec {

  private def fields(st: StructType): Seq[(String, DataType)] =
    st.fields.toSeq.filterNot(_.name == "bucket")
      .map(f => f.name -> f.dataType)

  private def fields(df: DataFrame): Seq[(String, DataType)] =
    fields(df.schema)

  test("every read path emits the snapshot's one logical schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-logical")
      .resolve("t").toString
    MergeTable.create((1 to 60).map(i =>
        (i.toLong, s"n$i", i % 7, i * 3, i.toDouble / 4))
      .toDF("key", "name", "gone", "stars", "score"), dir, "key")
    MergeTable.renameColumn(spark, dir, "name", "title")
    MergeTable.dropColumn(spark, dir, "gone")
    MergeTable.widenColumn(spark, dir, "stars", "bigint")
    MergeTable.upsert(spark, dir, Seq((2L, "t2", 5000000000L, 0.5))
      .toDF("key", "title", "stars", "score"))
    val v = MergeTable.versions(spark, dir).last

    val expected = Seq("key" -> LongType, "title" -> StringType,
      "stars" -> LongType, "score" -> DoubleType)
    val table = MergeTable.readTable(spark, dir)
    assert(fields(table) === expected)
    assert(table.count() === 60L)

    assert(fields(MergeTable.readKeys(spark, dir, Seq(2L, 3L))) === expected)

    val prepared = spark.sql(s"SELECT * FROM merge_table('$dir') WHERE key = 2")
    assert(prepared.queryExecution.analyzed.isInstanceOf[MergeTableLookup])
    assert(fields(prepared) === expected)
    assert(prepared.collect().map(_.getAs[Long]("stars")).toSeq ===
      Seq(5000000000L))

    val general =
      spark.sql(s"SELECT * FROM merge_table('$dir') WHERE key IN (2, 3)")
    assert(!general.queryExecution.analyzed.isInstanceOf[MergeTableLookup])
    assert(fields(general) === expected)

    val quiet = MergeTable.changes(spark, dir, v, v)
    assert(quiet.isEmpty)
    val payload = quiet.schema("new_row").dataType.asInstanceOf[StructType]
    assert(quiet.schema("old_row").dataType === payload)
    assert(fields(quiet.schema).take(1) ++ fields(payload) === expected)
  }
}

package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The driver path of the four curation verbs (`DedupIndex`,
  * `TextNearDupIndex` and `NearDupIndex` `admit`, `IvfPqIndex.add`):
  * the pieces they share when the batch's rows are already on the
  * driver.
  *
  * The trigger is the plan shape, not a knob: every leaf of the batch's
  * optimized plan is a `LocalRelation` (`createDataFrame(Seq)`, `toDF`,
  * a previous admit's output, or a join of such frames). Over such a
  * batch a verb evaluates its key expressions on the driver, since
  * Spark's `ConvertToLocalRelation` folds a projection of a local
  * relation with no job. It then scans the index once, pre-filtered by
  * the batch's keys, and verifies the candidates in that same job
  * against the probe rows planted as a map literal (`probes`). It
  * appends the admitted rows once, with no exchange (`clustered`), and
  * returns them as a local relation, so the next verb's batch is on the
  * driver too. A batch read from files, tables or a stream keeps the
  * relational path, which stays the row-for-row test reference. */
private[ext] object DriverBatch {

  /** `batch` as a frame whose rows are on the driver, or None when some
    * leaf of its optimized plan is not a batch `LocalRelation`. A plan
    * that is one bare local relation is taken as it is (no job); any
    * other local-leaved plan, such as a join, is collected once. */
  def of(batch: DataFrame): Option[DataFrame] = {
    val plan = batch.queryExecution.optimizedPlan
    val onDriver = plan.collectLeaves().forall {
      case l: LocalRelation => !l.isStreaming
      case _ => false
    }
    if (!onDriver) None
    else if (plan.isInstanceOf[LocalRelation]) Some(batch)
    else Some(frame(batch.sparkSession, batch.collect().toSeq, batch.schema))
  }

  /** `rows` as a frame over one local relation of `schema`. */
  def frame(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The probe rows as one map literal from probe key to the rows
    * probing it (`value`-typed structs), so a scan looks up its own
    * key's candidates per row with no join and no broadcast job. A null
    * key never matches an equi-join, so it is left out. */
  def probes(keyType: DataType, value: StructType,
      byKey: Map[Any, Seq[Row]]): Column =
    Bridge.column(Literal.create(byKey.filter(_._1 != null),
      MapType(keyType, ArrayType(value, containsNull = false),
        valueContainsNull = false)))

  /** The ids of the probe rows that some posting rejects, in one job:
    * each row of `postings` (`i_id`, `from_index`, its payload and its
    * probe key) meets the probe rows of its key (`probe`, from
    * [[probes]], as struct `p`), and a pair rejects `p.<id>` when
    * `verify` holds and the posting is (a) an index row with another id
    * (self-matches excluded, so a replayed batch, which finds its own
    * earlier append, re-derives the same admissions) or (b) a smaller-id
    * batch row (the greedy min-id keep). */
  def rejected(postings: DataFrame, probe: Column, id: String,
      verify: Column): Set[Any] =
    postings.select(col("*"), explode(probe).as("p"))
      .filter((col("from_index") && col("i_id") =!= col(s"p.$id")) ||
        (!col("from_index") && col("i_id") < col(s"p.$id")))
      .filter(verify)
      .select(col(s"p.$id")).collect().map(_.get(0)).toSet

  /** `groups` as a frame of at most defaultParallelism partitions, each
    * group whole in one partition: a `partitionBy` write of it puts one
    * file per group, without the shuffle that `repartition(n, col)`
    * costs. */
  def clustered(spark: SparkSession, schema: StructType,
      groups: Iterable[Seq[Row]]): DataFrame = {
    val n = math.max(1, math.min(groups.size,
      spark.sparkContext.defaultParallelism))
    val slices = groups.toSeq.zipWithIndex
      .groupMap(_._2 % n)(_._1).values.map(_.flatten).toSeq
    spark.createDataFrame(spark.sparkContext
      .parallelize(slices, n).flatMap(identity), schema)
  }
}

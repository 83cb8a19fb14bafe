package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into private[sql] surface (the Column ↔ Expression
  * conversions that Spark 4 routes through classic.ExpressionUtils).
  * Lives under org.apache.spark.sql solely for access; keep it tiny —
  * everything else in the engine uses public API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over an existing logical plan (Dataset.ofRows) — the
    * seam the MERGE INTO command uses to resolve its captured source
    * sub-plan at execution time. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A streaming-flagged DataFrame from a batch one — what a V1
    * streaming Source's getBatch must return (the engine asserts
    * isStreaming; FileStreamSource and Delta's source do exactly this
    * internalCreateDataFrame dance). The batch plan collapses to its
    * RDD lazily — nothing executes until the micro-batch runs. */
  def asStreaming(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The error a scheduled file scan raises when reading `path` fails
    * with `e` (FileScanRDD's mapping: a missing file, an upgrade
    * error passed through, anything else as a failed read). */
  def fileReadError(e: Throwable, path: String): Throwable = e match {
    case f: java.io.FileNotFoundException =>
      org.apache.spark.sql.errors.QueryExecutionErrors
        .fileNotExistError(path, f)
    case u: org.apache.spark.SparkUpgradeException => u
    case _ => e.getCause match {
      case u: org.apache.spark.SparkUpgradeException => u
      case _ => org.apache.spark.sql.errors.QueryExecutionErrors
        .cannotReadFilesError(e, path)
    }
  }
}

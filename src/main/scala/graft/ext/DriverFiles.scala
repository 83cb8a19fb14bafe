package graft.ext

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}

/** Parquet writes of driver-held rows, with no Spark job: the write
  * half of the curation verbs' driver path (see [[DriverBatch]]).
  *
  * A Spark write command over a few dozen rows is mostly fixed cost:
  * job setup, the commit protocol's renames and a Hadoop
  * `Configuration` copy per task. Rows already on the driver skip all
  * of it. The files still come from Spark's own writer
  * (`ParquetFileFormat.prepareWrite` → `OutputWriterFactory`), so the
  * session's codec, the footer's Spark row metadata and the file schema
  * are what a `partitionBy(...).parquet(dir)` write of the same rows
  * writes, and partition directories are named as Spark names them. */
private[ext] object DriverFiles {

  /** Append `rows` (of `schema`) under `dir`, one file per distinct
    * value of the `partitionBy` columns, in `col=value` directories (a
    * null value as `__HIVE_DEFAULT_PARTITION__`); partition columns are
    * not stored in the files. Every file is written under a `.`-prefixed
    * name, which Spark's listing skips, and all are renamed into place
    * only once every file is complete; if a write or a rename fails,
    * every file of the append is deleted, so none stays visible. No
    * rows, no file. */
  def write(spark: SparkSession, dir: String, schema: StructType,
      partitionBy: Seq[String], rows: Seq[Row]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    put(spark, conf, root.getFileSystem(conf), root, schema, partitionBy,
      rows, hide = true)
  }

  /** Replace `dir` with `rows`, laid out as [[write]] lays them out,
    * as `mode("overwrite")` does: delete, then write. The files are
    * written into a `.`-prefixed sibling directory, which takes `dir`'s
    * place once all are complete, so `dir` never holds part of the new
    * rows. No rows leave `dir` empty. */
  def replace(spark: SparkSession, dir: String, schema: StructType,
      partitionBy: Seq[String], rows: Seq[Row]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val target = new Path(dir)
    val staged = new Path(target.getParent,
      s".${target.getName}-${UUID.randomUUID()}")
    val fs = target.getFileSystem(conf)
    try {
      fs.mkdirs(staged)
      put(spark, conf, fs, staged, schema, partitionBy, rows, hide = false)
      fs.delete(target, true)
      if (!fs.rename(staged, target))
        throw new java.io.IOException(s"cannot rename $staged to $target")
    } finally fs.delete(staged, true): Unit
  }

  /** Write `rows` under `root`, each file under a `.`-prefixed name
    * renamed into place at the end if `hide`; on failure, delete them. */
  private def put(spark: SparkSession, conf: Configuration, fs: FileSystem,
      root: Path, schema: StructType, partitionBy: Seq[String],
      rows: Seq[Row], hide: Boolean): Unit = {
    if (rows.isEmpty) return
    val dataAt = schema.indices.filterNot(i =>
      partitionBy.contains(schema(i).name))
    val partAt = partitionBy.map(schema.fieldIndex)
    val dataSchema = StructType(dataAt.map(schema(_)))
    val job = Job.getInstance(conf)
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, dataSchema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val toCatalyst = CatalystTypeConverters
      .createToCatalystConverter(dataSchema)
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    def partitionDir(r: Row): String = partAt.map { i =>
      val v = Cast(Literal.create(r.get(i), schema(i).dataType), StringType,
        tz).eval()
      ExternalCatalogUtils.getPartitionPathString(schema(i).name,
        if (v == null) null else v.toString)
    }.mkString("/")
    val name = s"-${UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val files = rows.groupBy(partitionDir).toSeq.sortBy(_._1).zipWithIndex
      .map { case ((part, rs), i) =>
        val parent = if (part.isEmpty) root else new Path(root, part)
        val file = f"part-$i%05d$name"
        (rs, new Path(parent, if (hide) s".$file" else file),
          new Path(parent, file))
      }
    try {
      files.foreach { case (rs, staged, _) =>
        var out: OutputWriter = null
        try {
          out = factory.newInstance(staged.toString, dataSchema, ctx)
          rs.foreach(r => out.write(toCatalyst(Row.fromSeq(dataAt.map(r.get)))
            .asInstanceOf[InternalRow]))
        } finally if (out != null) out.close()
      }
      if (hide) files.foreach { case (_, staged, visible) =>
        if (!fs.rename(staged, visible))
          throw new java.io.IOException(s"cannot rename $staged to $visible")
      }
    } catch {
      case e: Throwable =>
        files.foreach { case (_, staged, visible) =>
          scala.util.Try(fs.delete(staged, false))
          scala.util.Try(fs.delete(visible, false))
        }
        throw e
    }
  }
}

package graft.ext

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.{SparkJobs, SparkSpec}

/** [[DriverFiles.write]] against Spark's own write of the same rows:
  * for the shape each curation verb appends (the exact, text, vector
  * and IVF-PQ index layouts), the same rows read back, the same
  * partition directories, the same parquet schema, codec and Spark row
  * metadata in every footer, and no Spark job. A listing during a
  * write sees no file, a failed write leaves nothing visible, and the
  * IVF-PQ run swap replays as `mode("overwrite")` does. */
class DriverFilesSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString + "/index"

  private val rng = new scala.util.Random(7)

  /** One index layout: its schema, partition columns and sample rows. */
  private final case class Shape(name: String, schema: StructType,
      partitionBy: Seq[String], rows: Seq[Row])

  private val exact = Shape("exact", StructType(Seq(
      StructField("fp", StringType), StructField("canonical_id", LongType))),
    Nil, (1 to 59).map(i => Row(f"${rng.nextLong()}%032x", i.toLong)))

  private val text = Shape("text", StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sig", ArrayType(LongType)),
      StructField("band", IntegerType),
      StructField("band_key", StringType))),
    Nil, (1 to 59).flatMap { i =>
      val sig = Seq.fill(16)(rng.nextLong() >>> 4)
      (0 to 1).map(b => Row(i.toLong, sig, b,
        sig.slice(b * 8, b * 8 + 8).mkString(",")))
    })

  /** 40 buckets and a null one (a null embedding has no bucket). */
  private val vec = Shape("vec", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("bucket", IntegerType))),
    Seq("bucket"), (1 to 59).map(i => Row(i.toLong,
      Seq.fill(8)(rng.nextFloat()), if (i == 7) null else i % 40)) :+
      Row(60L, null, null))

  private val ivf = Shape("ivf", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("codes", ArrayType(IntegerType, containsNull = false),
        nullable = false),
      StructField("cell", IntegerType, nullable = false))),
    Seq("cell"), (1 to 59).map(i => Row(i.toLong,
      Seq.fill(32)(rng.nextInt(256)), rng.nextInt(8))))

  private val shapes = Seq(exact, text, vec, ivf)

  /** Spark's write of `s.rows` under `dir`: the reference. */
  private def sparkWrite(s: Shape, dir: String): Unit =
    spark.createDataFrame(s.rows.asJava, s.schema).coalesce(1)
      .write.mode("append").partitionBy(s.partitionBy: _*).parquet(dir)

  private def conf = spark.sparkContext.hadoopConfiguration

  /** Every visible data file under `dir`, as (partition dir, file). */
  private def dataFiles(dir: String): Seq[(String, Path)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val it = fs.listFiles(root, true)
    val out = Seq.newBuilder[(String, Path)]
    while (it.hasNext) {
      val p = it.next().getPath
      val rel = p.toUri.getPath.stripPrefix(root.toUri.getPath + "/")
      if (!rel.split("/").exists(n => n.startsWith(".") || n.startsWith("_")))
        out += (rel.split("/").init.mkString("/") -> p)
    }
    out.result()
  }

  /** What a footer says about how its file was written: the parquet
    * schema, the column codecs and the Spark row metadata. */
  private def footer(p: Path): (String, Set[String], String) = {
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val meta = rd.getFooter.getFileMetaData
      (meta.getSchema.toString,
        rd.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .map(_.getCodec.name).toSet,
        meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally rd.close()
  }

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case x => x
    }).groupBy(identity).view.mapValues(_.size).toMap

  private def read(s: Shape, dir: String): DataFrame =
    spark.read.schema(s.schema).parquet(dir)

  test("each verb's append shape: the driver writer leaves Spark's rows, " +
      "partition directories and footers, one file per partition, with " +
      "no job") {
    for (s <- shapes) {
      val (driver, reference) = (tmp(s"df-${s.name}-d"), tmp(s"df-${s.name}-r"))
      sparkWrite(s, reference)
      val jobs = SparkJobs.during(spark)(
        DriverFiles.write(spark, driver, s.schema, s.partitionBy, s.rows))
      assert(jobs == 0, s"${s.name}: the driver write ran $jobs jobs")
      assert(bag(read(s, driver)) == bag(read(s, reference)),
        s"${s.name}: rows differ")
      val (d, r) = (dataFiles(driver), dataFiles(reference))
      assert(d.map(_._1).sorted == r.map(_._1).sorted,
        s"${s.name}: partition files ${d.map(_._1)} != ${r.map(_._1)}")
      assert(d.map(_._1).distinct.size == d.size)
      assert(d.map(f => footer(f._2)).toSet == r.map(f => footer(f._2)).toSet,
        s"${s.name}: footers differ")
    }
    val dirs = {
      val d = tmp("df-vec-names")
      DriverFiles.write(spark, d, vec.schema, vec.partitionBy, vec.rows)
      dataFiles(d).map(_._1).toSet
    }
    assert(dirs.contains("bucket=__HIVE_DEFAULT_PARTITION__"))
    assert(dirs.contains("bucket=0") && dirs.size == 41)
  }

  test("no rows write no file and create no directory") {
    val dir = tmp("df-empty")
    DriverFiles.write(spark, dir, vec.schema, vec.partitionBy, Nil)
    assert(!new Path(dir).getFileSystem(conf).exists(new Path(dir)))
  }

  /** A row that runs `probe` each time the writer reads its first
    * column. */
  private final class Probing(values: Seq[Any], probe: () => Unit)
      extends Row {
    override def length: Int = values.length
    override def get(i: Int): Any = { if (i == 0) probe(); values(i) }
    override def copy(): Row = this
  }

  test("a listing during the write sees no file until every file is " +
      "complete") {
    for (s <- Seq(exact, vec)) {
      val dir = tmp(s"df-listing-${s.name}")
      var seen = Seq.empty[String]
      val rows = s.rows.updated(40, new Probing(s.rows(40).toSeq,
        () => if (new Path(dir).getFileSystem(conf).exists(new Path(dir)))
          seen ++= dataFiles(dir).map(_._2.getName)))
      DriverFiles.write(spark, dir, s.schema, s.partitionBy, rows)
      assert(seen.isEmpty, s"${s.name}: a listing saw ${seen.mkString(", ")}")
      assert(dataFiles(dir).nonEmpty)
    }
  }

  test("a write that throws mid-file leaves no visible file and no " +
      "staged file, and the index reads as before") {
    for (s <- Seq(exact, vec)) {
      val dir = tmp(s"df-fail-${s.name}")
      DriverFiles.write(spark, dir, s.schema, s.partitionBy, s.rows)
      val before = bag(read(s, dir))
      val files = DedupIndex.dataFileCount(spark, dir)
      // a wrong-typed id two thirds in: the files before it are
      // complete, its own is half written
      val id = s.schema.fields.indexWhere(_.dataType == LongType)
      val bad = s.rows.updated(40,
        Row.fromSeq(s.rows(40).toSeq.updated(id, "not an id")))
      intercept[Exception](
        DriverFiles.write(spark, dir, s.schema, s.partitionBy, bad))
      assert(bag(read(s, dir)) == before, s"${s.name}: the index changed")
      assert(DedupIndex.dataFileCount(spark, dir) == files)
      val fs = new Path(dir).getFileSystem(conf)
      val all = fs.listFiles(new Path(dir), true)
      while (all.hasNext) {
        val n = all.next().getPath.getName
        assert(!n.startsWith("."), s"${s.name}: staged file $n was left")
      }
    }
    val dir = tmp("df-fail-dedup")
    val batch = spark.createDataFrame(Seq(Row(1L, "a b c"), Row(2L, "d e"))
      .asJava, StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    DedupIndex.admit(spark, dir, batch).collect()
    val before = bag(DedupIndex.readIndex(spark, dir))
    intercept[Exception](DriverFiles.write(spark, dir, exact.schema, Nil,
      Seq(Row("f0", 3L), Row("f1", "x"))))
    assert(bag(DedupIndex.readIndex(spark, dir)) == before)
  }

  test("a rename that fails part way deletes the files already renamed " +
      "and the staged ones") {
    val dir = tmp("df-rename")
    val sc = spark.sparkContext.hadoopConfiguration
    sc.set("fs.failrename.impl", classOf[RenameFailingFs].getName)
    RenameFailingFs.allowed.set(5)
    try intercept[java.io.IOException](DriverFiles.write(spark,
      s"failrename://$dir", vec.schema, vec.partitionBy, vec.rows))
    finally {
      RenameFailingFs.allowed.set(Int.MaxValue)
      sc.unset("fs.failrename.impl")
    }
    assert(RenameFailingFs.refused.get > 0, "no rename was refused")
    val fs = new Path(dir).getFileSystem(conf)
    val left = fs.listFiles(new Path(dir), true)
    while (left.hasNext)
      fail(s"${left.next().getPath} was left after the failed write")
  }

  test("replaying an IVF-PQ run, with rows and then empty, leaves the " +
      "index mode(\"overwrite\") leaves") {
    val (dir, reference) = (tmp("df-ivf-d"), tmp("df-ivf-r"))
    val train = spark.createDataFrame((1 to 300).map(i => Row(i.toLong,
        Seq.fill(64)(rng.nextGaussian().toFloat))).asJava,
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    IvfPqIndex.create(spark, dir, train)
    def batch(from: Int, n: Int): DataFrame = spark.createDataFrame(
      train.filter(col("vec_id").between(from, from + n - 1)).collect()
        .toSeq.asJava, train.schema)
    def step(runId: Long, b: DataFrame): Unit = {
      val coded = IvfPqIndex.add(spark, dir, b, runId)
      coded.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$reference/batch=$runId")
      assert(bag(IvfPqIndex.readIndex(spark, dir)) ==
        bag(IvfPqIndex.readIndex(spark, reference)), s"run $runId differs")
      val staged = new Path(dir).getFileSystem(conf).listStatus(new Path(dir))
        .map(_.getPath.getName).filter(_.startsWith(".batch"))
      assert(staged.isEmpty, s"staged runs left: ${staged.mkString(", ")}")
    }
    step(0, batch(1, 59))
    step(1, batch(60, 59))
    step(1, batch(60, 59))
    step(1, batch(120, 20))
    step(1, batch(120, 0))
    val run = new Path(dir, "batch=1")
    assert(run.getFileSystem(conf).exists(run))
    assert(DedupIndex.dataFileCount(spark, run.toString) == 0)
    assert(IvfPqIndex.readIndex(spark, dir).filter(col("batch") === 1)
      .isEmpty)
    assert(IvfPqIndex.readIndex(spark, dir).count() == 59)
  }
}

/** The local file system under the `failrename` scheme, refusing every
  * rename once `allowed` renames have run. */
class RenameFailingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def getScheme: String = "failrename"
  override def rename(src: Path, dst: Path): Boolean =
    if (RenameFailingFs.allowed.getAndDecrement() > 0) super.rename(src, dst)
    else { RenameFailingFs.refused.incrementAndGet(); false }
}

object RenameFailingFs {
  val allowed = new java.util.concurrent.atomic.AtomicInteger(Int.MaxValue)
  val refused = new java.util.concurrent.atomic.AtomicInteger(0)
}

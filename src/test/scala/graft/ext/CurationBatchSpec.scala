package graft.ext

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{SparkJobs, SparkSpec}

/** The driver path of the four curation verbs against their relational
  * path, row for row. A batch built on the driver (a local relation)
  * takes the driver path; the same rows read back from parquet take the
  * relational path. Each comparison holds the returned rows, the
  * returned schema and the index contents after the call, as multisets. */
class CurationBatchSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Planes = 6
  private val Dim = 64 // PQ_M × PQ_SUBDIM, the IVF-PQ codebook geometry

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType))))

  private final case class Doc(id: Long, text: String, emb: Array[Float])

  /** Documents around 8 topics (text words and embedding centre), with
    * planted duplicates of an earlier document, from this batch or an
    * earlier one: exact copies, one-word edits with a slightly moved
    * embedding, and new texts with a jittered embedding. */
  private final class Corpus(seed: Int) {
    private val rng = new scala.util.Random(seed)
    private val centres = Array.fill(8, Dim)(rng.nextGaussian().toFloat)
    private val seen = scala.collection.mutable.ArrayBuffer.empty[Doc]
    private var next = 1L

    private def words(topic: Int): String =
      Seq.fill(28)(s"t${topic}w${rng.nextInt(60)}").mkString(" ")
    private def jitter(e: Array[Float], by: Double): Array[Float] =
      e.map(x => (x + rng.nextGaussian() * by).toFloat)

    def batch(n: Int): Seq[Doc] = (0 until n).map { _ =>
      val id = next
      next += 1
      val roll = rng.nextInt(10)
      val d =
        if (seen.nonEmpty && roll == 0) {
          val o = seen(rng.nextInt(seen.size)); Doc(id, o.text, o.emb)
        } else if (seen.nonEmpty && roll == 1) {
          val o = seen(rng.nextInt(seen.size))
          val ws = o.text.split(" ")
          ws(rng.nextInt(ws.length)) = "edited"
          Doc(id, ws.mkString(" "), jitter(o.emb, 0.01))
        } else if (seen.nonEmpty && roll == 2) {
          val o = seen(rng.nextInt(seen.size))
          Doc(id, words(rng.nextInt(8)), jitter(o.emb, 0.02))
        } else {
          val t = rng.nextInt(8)
          Doc(id, words(t), jitter(centres(t), 0.8))
        }
      seen += d
      d
    }
  }

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString + "/index"

  /** A batch on the driver: a local relation of `schema`. */
  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def docs(ds: Seq[Doc]): DataFrame =
    local(ds.map(d => Row(d.id, d.text, d.emb.toSeq)), DocSchema)

  /** The same rows read back from parquet: a file-backed batch. */
  private def fromParquet(df: DataFrame): DataFrame = {
    val p = Files.createTempDirectory("curation-batch").toString + "/b"
    df.write.parquet(p)
    spark.read.parquet(p)
  }

  /** A file-backed batch and its local twin, with one schema. */
  private def twins(df: DataFrame): (DataFrame, DataFrame) = {
    val file = fromParquet(df)
    (local(file.collect().toSeq, file.schema), file)
  }

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case x => x
    }).groupBy(identity).view.mapValues(_.size).toMap

  private def same(what: String, driver: DataFrame,
      relational: DataFrame): Unit = {
    assert(driver.schema == relational.schema,
      s"$what: schema ${driver.schema} != ${relational.schema}")
    assert(bag(driver) == bag(relational), s"$what: rows differ")
  }

  /** One verb over one index directory per path. */
  private final case class Verb(name: String,
      run: (String, DataFrame) => DataFrame, read: String => DataFrame)

  private def exact = Verb("exact",
    (d, b) => DedupIndex.admit(spark, d, b.select("doc_id", "text")),
    DedupIndex.readIndex(spark, _))
  private def text = Verb("text",
    (d, b) => TextNearDupIndex.admit(spark, d, b.select("doc_id", "text")),
    TextNearDupIndex.readIndex(spark, _))
  private def vec = Verb("vec",
    (d, b) => NearDupIndex.admit(spark, d,
      b.select(col("doc_id").as("vec_id"), col("embedding")), Planes),
    NearDupIndex.readIndex(spark, _))
  private def add(runId: Long) = Verb(s"add run $runId",
    (d, b) => IvfPqIndex.add(spark, d,
      b.select(col("doc_id").as("vec_id"), col("embedding")), runId),
    IvfPqIndex.readIndex(spark, _))

  /** Run `verb` on both paths and compare what they return and leave. */
  private def both(verb: Verb, dDir: String, rDir: String, batch: DataFrame,
      what: String): DataFrame = {
    val (onDriver, onFiles) = twins(batch)
    assert(DriverBatch.of(onDriver).isDefined)
    assert(DriverBatch.of(onFiles).isEmpty)
    val d = verb.run(dDir, onDriver)
    val r = verb.run(rDir, onFiles)
    same(s"${verb.name} $what returned", d, r)
    same(s"${verb.name} $what index", verb.read(dDir), verb.read(rDir))
    d
  }

  private def codebooks(dirs: String*): Unit = {
    val c = new Corpus(99)
    val train = c.batch(300)
    dirs.foreach(IvfPqIndex.create(spark, _, local(
      train.map(d => Row(d.id, d.emb.toSeq)), StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))))
  }

  test("each verb alone: the driver path equals the relational path over " +
      "a bootstrap, planted and in-batch duplicates, and a replay") {
    for (verb <- Seq(exact, text, vec)) {
      val c = new Corpus(11)
      val (dDir, rDir) = (tmp(s"cb-${verb.name}-d"), tmp(s"cb-${verb.name}-r"))
      val first = docs(c.batch(59))
      both(verb, dDir, rDir, first, "bootstrap")
      val second = docs(c.batch(59))
      val admitted = both(verb, dDir, rDir, second, "second batch")
      assert(admitted.count() < 59, s"${verb.name}: nothing was rejected")
      both(verb, dDir, rDir, second, "replay")
    }
    val c = new Corpus(12)
    val (dDir, rDir) = (tmp("cb-add-d"), tmp("cb-add-r"))
    codebooks(dDir, rDir)
    both(add(0), dDir, rDir, docs(c.batch(59)), "first run")
    val second = docs(c.batch(59))
    both(add(1), dDir, rDir, second, "second run")
    both(add(1), dDir, rDir, second, "replay")
    intercept[IllegalArgumentException](add(-1).run(dDir, second))
  }

  test("the four verbs chained: each step's rows, schema and index equal " +
      "the relational chain's") {
    val c = new Corpus(21)
    val dirs = Seq("exact", "text", "vec", "ivf").map(n =>
      n -> (tmp(s"cb-chain-$n-d"), tmp(s"cb-chain-$n-r"))).toMap
    codebooks(dirs("ivf")._1, dirs("ivf")._2)
    for (i <- 0 until 3) {
      val (batch, batchFile) = twins(docs(c.batch(59)))
      def step(what: String, d: DataFrame, r: DataFrame, dir: String,
          read: String => DataFrame): Unit = {
        same(s"batch $i $what returned", d, r)
        same(s"batch $i $what index", read(dirs(dir)._1), read(dirs(dir)._2))
      }
      val exD = DedupIndex.admit(spark, dirs("exact")._1,
        batch.select("doc_id", "text"))
      val exR = DedupIndex.admit(spark, dirs("exact")._2,
        batchFile.select("doc_id", "text"))
      step("exact", exD, exR, "exact", DedupIndex.readIndex(spark, _))
      val txD = TextNearDupIndex.admit(spark, dirs("text")._1,
        exD.select("doc_id", "text"))
      val txR = TextNearDupIndex.admit(spark, dirs("text")._2,
        fromParquet(exR).select("doc_id", "text"))
      step("text", txD, txR, "text", TextNearDupIndex.readIndex(spark, _))
      def vecBatch(t: DataFrame, b: DataFrame) = t.select("doc_id")
        .join(b, "doc_id").select(col("doc_id").as("vec_id"), col("embedding"))
      val vxD = NearDupIndex.admit(spark, dirs("vec")._1,
        vecBatch(txD, batch), Planes)
      val vxR = NearDupIndex.admit(spark, dirs("vec")._2,
        vecBatch(fromParquet(txR), batchFile), Planes)
      step("vec", vxD, vxR, "vec", NearDupIndex.readIndex(spark, _))
      val adD = IvfPqIndex.add(spark, dirs("ivf")._1,
        vxD.select("vec_id", "embedding"), i)
      val adR = IvfPqIndex.add(spark, dirs("ivf")._2,
        fromParquet(vxR).select("vec_id", "embedding"), i)
      step("add", adD, adR, "ivf", IvfPqIndex.readIndex(spark, _))
    }
  }

  test("an all-rejected batch appends no file; an empty batch admits " +
      "nothing on either path") {
    val c = new Corpus(31)
    val ds = c.batch(40)
    val copies = ds.map(d => d.copy(id = d.id + 1000))
    for (verb <- Seq(exact, text, vec)) {
      val (dDir, rDir) = (tmp(s"cb-rej-${verb.name}-d"), tmp(s"cb-rej-${verb.name}-r"))
      both(verb, dDir, rDir, docs(ds), "first batch")
      val files = DedupIndex.dataFileCount(spark, dDir)
      val rejected = both(verb, dDir, rDir, docs(copies), "all copies")
      assert(rejected.isEmpty, s"${verb.name} admitted a copy")
      assert(DedupIndex.dataFileCount(spark, dDir) == files,
        s"${verb.name}: an all-rejected batch appended a file")
      both(verb, dDir, rDir, docs(Nil), "empty batch")
    }
    val (dDir, rDir) = (tmp("cb-rej-add-d"), tmp("cb-rej-add-r"))
    codebooks(dDir, rDir)
    both(add(0), dDir, rDir, docs(ds), "first run")
    both(add(3), dDir, rDir, docs(Nil), "empty run")
  }

  test("a planes mismatch still throws on the driver path") {
    val dir = tmp("cb-planes")
    val b = docs(new Corpus(41).batch(5))
    vec.run(dir, b)
    val ex = intercept[IllegalArgumentException] {
      NearDupIndex.admit(spark, dir,
        b.select(col("doc_id").as("vec_id"), col("embedding")), Planes + 1)
    }
    assert(ex.getMessage.contains(s"planes=$Planes"))
  }

  /** One benchmark-shaped write: 59 documents through the four verbs,
    * the vector batch a join of the text survivors with the batch. */
  private def chain(c: Corpus, dirs: Seq[String], runId: Long): Unit = {
    val batch = docs(c.batch(59))
    val ex = DedupIndex.admit(spark, dirs(0), batch.select("doc_id", "text"))
    val tx = TextNearDupIndex.admit(spark, dirs(1), ex.select("doc_id", "text"))
    val vx = NearDupIndex.admit(spark, dirs(2), tx.select("doc_id")
      .join(batch, "doc_id").select(col("doc_id").as("vec_id"),
        col("embedding")), Planes)
    IvfPqIndex.add(spark, dirs(3), vx.select("vec_id", "embedding"), runId)
  }

  test("a warmed chained write runs at most 10 jobs, with no checkpoint " +
      "and no shuffle exchange") {
    val c = new Corpus(51)
    val dirs = Seq("exact", "text", "vec", "ivf").map(n => tmp(s"cb-guard-$n"))
    codebooks(dirs(3))
    chain(c, dirs, 0)
    chain(c, dirs, 1)
    val plans = new ConcurrentLinkedQueue[QueryExecution]()
    val stages = new ConcurrentLinkedQueue[String]()
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = plans.add(qe)
    }
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(s => stages.add(s.name))
    }
    spark.listenerManager.register(ql)
    spark.sparkContext.addSparkListener(sl)
    val jobs =
      try SparkJobs.during(spark)(chain(c, dirs, 2))
      finally {
        spark.listenerManager.unregister(ql)
        spark.sparkContext.removeSparkListener(sl)
      }
    assert(jobs <= 10, s"the chained write ran $jobs jobs")
    assert(!stages.asScala.exists(_.contains("Checkpoint")),
      s"a checkpoint ran: ${stages.asScala.mkString("; ")}")
    val shuffled = plans.asScala.filter(qe =>
      find(qe.executedPlan)(_.isInstanceOf[ShuffleExchangeExec]).isDefined)
    assert(shuffled.isEmpty, "shuffle exchange in\n" +
      shuffled.map(_.executedPlan.treeString).mkString("\n"))
  }

  /** The `graft.op` label of every job `body` starts, fenced like
    * [[SparkJobs.during]]. */
  private def labelsDuring(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def get(k: String) = p.flatMap(q => Option(q.getProperty(k)))
          .getOrElse("")
        seen.add(get("spark.job.description") -> get(graft.core.OpLabel.Key))
      }
    }
    val sc = spark.sparkContext
    val id = UUID.randomUUID()
    val (a, b) = (s"labels-fence-a-$id", s"labels-fence-b-$id")
    def fence(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count(): Unit
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_._1 == tag) && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(seen.asScala.exists(_._1 == tag), s"fence $tag never arrived")
    }
    sc.addSparkListener(l)
    try {
      fence(a)
      body
      fence(b)
      val js = seen.asScala.toSeq
      js.slice(js.indexWhere(_._1 == a) + 1, js.indexWhere(_._1 == b))
        .map(_._2)
    } finally sc.removeSparkListener(l)
  }

  test("every job a curation verb launches carries its graft.op label, " +
      "AQE stage jobs included, and the caller's label comes back") {
    val c = new Corpus(61)
    val ivf = Seq(tmp("cb-label-ivf-d"), tmp("cb-label-ivf-r"))
    codebooks(ivf: _*)
    val cases = Seq(
      ("dedup.exact_admit", exact, tmp("cb-label-ex-d"), tmp("cb-label-ex-r")),
      ("dedup.text_admit", text, tmp("cb-label-tx-d"), tmp("cb-label-tx-r")),
      ("dedup.vec_admit", vec, tmp("cb-label-vx-d"), tmp("cb-label-vx-r")),
      ("ivfpq.add", add(0), ivf(0), ivf(1)))
    val sc = spark.sparkContext
    for ((label, verb, dDir, rDir) <- cases) {
      val (onDriver, onFiles) = twins(docs(c.batch(30)))
      for ((dir, batch) <- Seq(dDir -> onDriver, rDir -> onFiles)) {
        sc.setLocalProperty(graft.core.OpLabel.Key, "caller")
        val labels =
          try labelsDuring(verb.run(dir, batch): Unit)
          finally assert(sc.getLocalProperty(graft.core.OpLabel.Key) ==
            "caller", s"$label did not restore the caller's label")
        sc.setLocalProperty(graft.core.OpLabel.Key, null)
        assert(labels.nonEmpty, s"$label ran no job on $dir")
        assert(labels.forall(_ == label),
          s"$label jobs carry ${labels.mkString(", ")}")
      }
    }
  }
}

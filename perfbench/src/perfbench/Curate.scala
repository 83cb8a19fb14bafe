package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ext.{DedupIndex, IvfPqIndex, NearDupIndex, TextNearDupIndex}

/** curate_dedup_ann: the curation path. Each write op sends a batch of
  * documents through exact dedup, text near-dup and vector near-dup
  * admission, and adds the survivors to the IVF-PQ index, whose
  * codebooks are trained in set-up; `SearchesPerBatch` search batches
  * follow each write op. */
final class CurateDedupAnn(spark: SparkSession, tr: Tracer, seed: Long,
    dir: String) extends Workload {
  import CurateDedupAnn._

  private val gen = new CorpusGen(seed)
  private val exactDir = s"$dir/exact"
  private val textDir = s"$dir/text"
  private val vecDir = s"$dir/vector"
  private val ivfDir = s"$dir/ivfpq"
  /** Integer-grid vectors of everything the IVF-PQ index holds. */
  private val indexed = mutable.LongMap.empty[Array[Long]]
  private val seenTexts = mutable.HashSet.empty[String]
  private var batches = 0
  private var nextDoc = 1L
  private var searches = 0
  private var bytesIn = 0L

  def dataDirs: Seq[String] = Seq(exactDir, textDir, vecDir, ivfDir)
  def inputBytes: Long = bytesIn

  def setup(): Unit = {
    val train = (0 until TrainRows).map(i => Row(i.toLong, gen.sample().toSeq))
    IvfPqIndex.create(spark, ivfDir, Run.df(spark, train, VecSchema))
  }

  /** Two cycles: the op latencies still fall over the first ones as the
    * JIT and Spark's code caches warm up. */
  override def warmupSteps: Int = 2

  def step(run: Run): Boolean = {
    admit(run)
    (0 until SearchesPerBatch).foreach(_ => search(run))
    true
  }

  private def admit(run: Run): Unit = run.op("write") {
    val i = batches
    batches += 1
    val docs = (0 until BatchDocs).map { _ => nextDoc += 1; gen.doc(nextDoc - 1) }
    val batch = Run.df(spark, docs.map(d => Row(d.id, d.text, d.emb.toSeq)),
      DocSchema)
    val ((exact, coded), secs) = run.timed("op.write") {
      val exact = tr.span("dedup.exact_admit")(
        DedupIndex.admit(spark, exactDir, batch.select("doc_id", "text")))
      val text = tr.span("dedup.text_admit")(
        TextNearDupIndex.admit(spark, textDir, exact.select("doc_id", "text")))
      val vec = tr.span("dedup.vec_admit")(NearDupIndex.admit(spark, vecDir,
        text.select("doc_id").join(batch, "doc_id")
          .select(col("doc_id").as("vec_id"), col("embedding")), Planes))
      val coded = tr.span("ivfpq.add")(IvfPqIndex.add(spark, ivfDir,
        vec.select("vec_id", "embedding"), i))
      (exact, coded)
    }
    // both results are materialized by the program; reading their ids
    // back is outside the op
    val admittedExact = exact.select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = coded.select("vec_id").collect().map(_.getLong(0)).toSet
    val expectedExact = docs.filter(d => seenTexts.add(d.text)).map(_.id).toSet
    val byId = docs.map(d => d.id -> d).toMap
    survivors.foreach(id => indexed(id) = grid(byId(id).emb))
    bytesIn += docs.map(d => d.text.length + 4L * d.emb.length).sum
    run.freshness.add(secs)
    run.writeRows += docs.size
    if (tr.enabled) {
      val planted = docs.filter(_.kind != "original").map(_.id).toSet
      val rejected = docs.map(_.id).toSet -- survivors
      tr.add("dedup.planted", planted.size)
      tr.add("dedup.rejected", rejected.size)
      tr.add("dedup.true_rejects", (rejected & planted).size)
      tr.set("dedup.index_files",
        Seq(exactDir, textDir, vecDir).map(Run.usage(_)._1).sum)
      tr.set("ivfpq.index_files", Run.usage(ivfDir)._1)
    }
    Run.check(s"batch $i exact-dedup admissions", admittedExact == expectedExact) &&
      Run.check(s"batch $i survivors admitted", survivors.subsetOf(admittedExact))
  }

  private def search(run: Run): Unit = run.op("read") {
    val qs = (0 until QueryBatch).map { j =>
      (QueryIdBase + searches.toLong * QueryBatch + j, gen.sample())
    }
    searches += 1
    val queries = Run.df(spark, qs.map { case (id, e) => Row(id, e.toSeq) },
      VecSchema)
    val (rows, secs) = run.timed("op.read")(tr.span("ivfpq.search") {
      val df = IvfPqIndex.search(spark, ivfDir, queries, K, NProbe)
      val rows = df.collect()
      if (tr.enabled) {
        tr.add("ivfpq.codes_scanned", ScanMetrics.of(df)._2)
        tr.add("ivfpq.queries", qs.size)
        tr.add("ivfpq.searches", 1)
      }
      rows
    })
    run.reads.add(secs * 1000)
    val ann = rows.groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("n_id")).toSet }
    val recall = qs.map { case (id, e) =>
      val exact = exactTop(grid(e))
      (ann.getOrElse(id, Set.empty[Long]) & exact).size.toDouble / exact.size
    }
    run.recalls += recall.sum / recall.size
    Run.check("search answers come from the index",
      rows.forall(r => indexed.contains(r.getAs[Long]("n_id")))) &&
      Run.check("search returns at most k per query",
        ann.values.forall(_.size <= K))
  }

  /** Exact top-k under the distance the index approximates: squared L2
    * on the integer grid, ties by id. */
  private def exactTop(q: Array[Long]): Set[Long] =
    indexed.iterator.map { case (id, v) =>
      var d = 0L
      var i = 0
      while (i < v.length) { val x = v(i) - q(i); d += x * x; i += 1 }
      (d, id)
    }.toSeq.sorted.take(K).map(_._2).toSet

  def verify(): Boolean =
    Run.check("ivfpq index holds every survivor",
      IvfPqIndex.readIndex(spark, ivfDir).count() == indexed.size)
}

object CurateDedupAnn {
  /** One ingest batch of repository documents (`IngestRig.BatchRows`). */
  val BatchDocs = IngestRig.BatchRows
  val TrainRows = 1024
  val SearchesPerBatch = 2
  val QueryBatch = 16
  val K = 10
  val NProbe = 2
  val Planes = 6
  val QueryIdBase = 1000000000L

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType))))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** The grid the index quantizes through: round-half-up of x * 1000. */
  def grid(e: Array[Float]): Array[Long] = e.map(x =>
    BigDecimal(x.toDouble * 1000).setScale(0,
      BigDecimal.RoundingMode.HALF_UP).toLong)
}

package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** serve_mixed: ingest writes under a read load. Each step is one cycle
  * of `CycleOps` ops: one ingest micro-batch, one `MergeTable.maintain`,
  * then reads: `AnalyticsPerCycle` of them run the README's analytics
  * queries, the others are Zipf-skewed point lookups (some of absent
  * keys). The mix per cycle is fixed, so the share of each op kind does
  * not depend on how fast the ops are. The warm-up cycle runs untimed,
  * so the table is built by the ingest op sequence itself and its layout
  * is the one ingestion produces. */
final class ServeMixed(spark: SparkSession, tr: Tracer, seed: Long,
    dir: String, seconds: Double) extends Workload {
  import ServeMixed._

  val rig = new IngestRig(spark, tr, seed, dir,
    new RepoGen(seed, IngestRig.InitialRows, IngestRig.BatchRows,
      IngestRig.RefreshRows),
    capacity(seconds))
  private val rng = new Random(seed * 17 + 3)
  private var queries = 0

  def setup(): Unit = rig.setup()

  def step(run: Run): Boolean = {
    if (rig.exhausted) return false
    rig.write(run)
    rig.maintain(run)
    (2 until CycleOps).foreach { k =>
      if (k % (CycleOps / AnalyticsPerCycle) == 0) query(run) else lookup(run)
    }
    true
  }

  private def lookup(run: Run): Unit = run.op("lookup") {
    val id =
      if (rng.nextDouble() < AbsentShare)
        rig.gen.absentId(rng.nextInt(rig.state.ids.size))
      else {
        val ids = rig.state.ids
        val r = Zipf.rank(ids.size, ZipfS, rng.nextDouble())
        ids((Mix.h(seed, r, 11) % ids.size).toInt)
      }
    val (rows, secs) = run.timed("op.lookup")(rig.lookup(id))
    run.reads.add(secs * 1000)
    val ok = Run.check(s"lookup $id", rig.lookupMatches(id, rows))
    run.recalls += (if (ok) 1.0 else 0.0)
    ok
  }

  /** The README's three analytics queries as one analyst read: top-10 by
    * stars, count by language, and avg stars over four languages, all as
    * direct SQL over the table; the last two are also answered by
    * `Ivm.serve`, and both answers must equal the ones computed from the
    * expected state. */
  private def query(run: Run): Unit = run.op("query") {
    val q = queries
    queries += 1
    val langs = new Random(seed + q).shuffle(rig.gen.languages).take(4)
    val ((top, counts, avgs, view), secs) = run.timed("op.query") {
      (rig.sql("SELECT id, full_name, stargazers_count FROM $T " +
          "ORDER BY stargazers_count DESC, id LIMIT 10")
        .map(r => Seq(r.getLong(0), r.getString(1), r.getLong(2))),
        rig.sql("SELECT language, count(*) AS n FROM $T GROUP BY language")
          .map(r => Seq(r.getString(0), r.getLong(1))),
        rig.sql("SELECT language, count(*) AS n, " +
            "avg(stargazers_count) AS avg_stars FROM $T WHERE language IN (" +
            langs.map(l => s"'$l'").mkString(", ") + ") GROUP BY language")
          .map(r => Seq(r.getString(0), r.getLong(1), r.getDouble(2))),
        rig.serveView())
    }
    run.queries.add(secs * 1000)
    val byLang = rig.state.byLanguage
    val expected = Seq(
      rig.state.rows.values.toSeq.sortBy(r => (-r.stars, r.id)).take(10)
        .map(r => Seq(r.id, r.fullName, r.stars)),
      byLang.toSeq.map { case (l, (n, _)) => Seq(l, n) },
      byLang.toSeq.filter(e => langs.contains(e._1)).map {
        case (l, (n, s)) => Seq(l, n, s.toDouble / n) })
    val viaView = Seq(
      view.map(r => Seq(r.getString(0), r.getLong(1))).toSeq,
      view.filter(r => langs.contains(r.getString(0)))
        .map(r => Seq(r.getString(0), r.getLong(1), r.getDouble(3))).toSeq)
    val answers = Seq(top.toSeq, counts.toSeq, avgs.toSeq) ++ viaView
    val wanted = expected ++ expected.tail
    val hits = wanted.zip(answers).map { case (e, g) =>
      e.count(row => g.exists(same(row, _))) }
    run.recalls += hits.sum.toDouble / wanted.map(_.size).sum
    wanted.zip(answers).zip(hits).zipWithIndex.map { case (((e, g), h), i) =>
      Run.check(s"README query answer $i", h == e.size && g.size == e.size)
    }.forall(identity)
  }

  private def same(a: Seq[Any], b: Seq[Any]): Boolean =
    a.size == b.size && a.zip(b).forall {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1, math.abs(x))
      case (x, y) => x == y
    }

  def verify(): Boolean = rig.verify()
  def dataDirs: Seq[String] = rig.dataDirs
  def inputBytes: Long = rig.inputBytes
  override def retention(): Unit = rig.retention()
  override def layerCounters(): Unit = rig.layerCounters()
}

object ServeMixed {
  /** Ops per cycle: one write, one maintain, then reads. Assumed mix:
    * the reference runs one ingest batch an hour and documents no read
    * traffic. */
  val CycleOps = 15
  /** README analytics reads per cycle; the other reads are lookups. */
  val AnalyticsPerCycle = 2
  /** Assumed lookup keys: Zipf(1.1) over the ids in the table, with 1 in
    * 10 keys absent from it. */
  val AbsentShare = 0.1
  val ZipfS = 1.1

  /** Ingest batches the generator prepares (bronze is pre-seeded for
    * them): one per 0.2 s of the run, far more than the cycles that fit
    * into it. */
  def capacity(seconds: Double): Int = 2 + math.ceil(seconds * 5).toInt
}

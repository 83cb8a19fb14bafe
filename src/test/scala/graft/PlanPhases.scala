package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, TimestampType}

import graft.ext.MergeTable

/** Where one statement's planning time goes: the QueryPlanningTracker's
  * phase times and, per analyzer and optimizer rule, the time and runs
  * RuleExecutor recorded for that statement alone. Specs use it to
  * guard which rules a plan puts to work; `main` prints the lookup
  * phase split:
  *
  * {{{
  * sbt "Test/runMain graft.PlanPhases [lookups] [warmup]"
  * }}}
  *
  * It builds a 4000-row, 14-column, 16-bucket MergeTable with five
  * upsert epochs, warms both lookup paths, then times `lookups`
  * prepared lookups (`SELECT <cols> FROM merge_table(..) WHERE id = k`)
  * against the same lookups in a shape the matcher does not take
  * (`... AND 1 = 1`, planned by the general path). */
object PlanPhases {

  /** One rule's share of a statement: total time, runs, and the runs
    * that changed the plan. */
  final case class RuleTime(ns: Long, runs: Long, effective: Long)

  final case class Report(phasesMs: Map[String, Long],
      rules: Map[String, RuleTime]) {
    def rule(name: String): RuleTime =
      rules.getOrElse(name, RuleTime(0L, 0L, 0L))
  }

  /** Plans `df` to its executed plan and reports its planning. */
  def of(df: DataFrame): Report = {
    val qe = df.queryExecution
    qe.executedPlan
    Report(
      qe.tracker.phases.map { case (p, s) => p -> s.durationMs },
      qe.tracker.rules.map { case (r, s) =>
        r -> RuleTime(s.totalTimeNs, s.numInvocations,
          s.numEffectiveInvocations)
      })
  }

  def main(args: Array[String]): Unit = {
    val lookups = args.headOption.map(_.toInt).getOrElse(300)
    val warmup = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = SparkSpec.session
    val dir = java.nio.file.Files.createTempDirectory("plan-phases")
      .resolve("t").toString
    val schema = graft.ingest.RepoSchema.flat
    def rows(from: Long, n: Long, rev: Int) =
      spark.range(from, from + n).select(schema.fields.toSeq.map { f =>
        (f.dataType match {
          case LongType => col("id") * 3 + 1000000L + rev
          case TimestampType => timestamp_seconds(col("id") + 1704067200L)
          case StringType => concat(lit(s"${f.name}-$rev-"), col("id"))
          case t => lit(null).cast(t)
        }).cast(f.dataType).as(f.name)
      }: _*).withColumn("id", col("id") - rev)
    MergeTable.create(rows(0, 4000, 0), dir, "id", hexDigits = 1)
    (1 to 5).foreach(c => MergeTable.upsert(spark, dir, rows(c * 64, 64, c)))
    val cols = schema.fieldNames.mkString(", ")
    val keys = new scala.util.Random(11)
    def key(): Long = 1000000L + 3L * keys.nextInt(4000)
    val paths = Seq(
      "prepared" -> ((k: Long) =>
        s"SELECT $cols FROM merge_table('$dir') WHERE id = $k"),
      "general" -> ((k: Long) =>
        s"SELECT $cols FROM merge_table('$dir') WHERE id = $k AND 1 = 1"))
    def once(sql: String): (Seq[Long], Report) = {
      val t0 = System.nanoTime()
      val df = spark.sql(sql)
      val t1 = System.nanoTime()
      df.queryExecution.optimizedPlan
      val t2 = System.nanoTime()
      val report = of(df)
      val t3 = System.nanoTime()
      df.collect()
      val t4 = System.nanoTime()
      (Seq(t1 - t0, t2 - t1, t3 - t2, t4 - t3), report)
    }
    // the paths alternate, so JIT and GC drift fall on both alike
    def alternate(n: Int): Seq[Seq[(Seq[Long], Report)]] =
      (1 to n).map { _ =>
        val k = key()
        paths.map { case (_, q) => once(q(k)) }
      }.transpose
    alternate(warmup): Unit
    val phases = Seq("parse + analysis", "optimization",
      "planning + preparation", "collect")
    val results = paths.map(_._1).zip(alternate(lookups)).map {
        case (name, runs) =>
      val mean = phases.indices.map(i =>
        runs.map(_._1(i)).sum / 1e6 / lookups)
      val rules = runs.flatMap(_._2.rules).groupMapReduce(_._1)(_._2) {
        (a, b) => RuleTime(a.ns + b.ns, a.runs + b.runs,
          a.effective + b.effective)
      }
      name -> (mean, rules)
    }
    println(f"${"phase (ms per lookup)"}%-26s" +
      results.map(r => f"${r._1}%12s").mkString)
    phases.indices.foreach { i =>
      println(f"${phases(i)}%-26s" +
        results.map(r => f"${r._2._1(i)}%12.2f").mkString)
    }
    println(f"${"total"}%-26s" +
      results.map(r => f"${r._2._1.sum}%12.2f").mkString)
    results.foreach { case (name, (_, rules)) =>
      val total = rules.values.map(_.ns).sum / 1e6 / lookups
      println(f"\n$name: $total%.2f ms of analyzer and optimizer rules " +
        "per lookup; the slowest:")
      rules.toSeq.sortBy(-_._2.ns).take(8).foreach { case (r, t) =>
        println(f"  ${t.ns / 1e6 / lookups}%7.3f ms  " +
          f"${t.runs.toDouble / lookups}%5.1f runs  " +
          f"${t.effective.toDouble / lookups}%5.2f effective  " +
          r.split('.').last)
      }
    }
  }
}

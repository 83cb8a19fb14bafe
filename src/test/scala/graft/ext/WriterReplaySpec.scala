package graft.ext

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.{SparkJobs, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One seeded history through every MergeTable writer verb, checked
  * against a golden record: after each commit the change to the head
  * manifest's lines (with `#ts=`, attempt tags and part-file uuids
  * normalised), the verb's returned stats and the Spark jobs it ran. The
  * history runs twice on fresh tables — the first pass warms the JVM,
  * the second is measured — so the job counts are those of warmed verbs.
  *
  * The golden file is `src/test/resources/graft/ext/writer_replay.golden`.
  * Each run also writes what it saw to `target/writer-replay/`, so after
  * a deliberate change to a commit's lines or jobs the record can be
  * regenerated by copying that file over the resource. */
class WriterReplaySpec extends SparkSpec {

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private val Attempt = "(d?v)=(\\d+)-\\d+x\\d+".r

  private def normalised(line: String): String =
    Uuid.replaceAllIn(
      Attempt.replaceAllIn(
        if (line.startsWith("#ts=")) "#ts=<ts>" else line,
        m => s"${m.group(1)}=${m.group(2)}-<tag>"),
      "<uuid>")

  private def manifestFile(dir: String, v: Long) =
    Paths.get(dir, "_manifests", f"v$v%09d")

  private def headLines(dir: String): Seq[String] = {
    val v = MergeTable.versions(spark, dir).last
    new String(Files.readAllBytes(manifestFile(dir, v)), UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Re-commits the head as the next version with its lowest dirty
    * bucket's fingerprint cut to the legacy two-component `rows:h1`
    * form, written straight to the manifest directory. */
  private def cutFingerprint(dir: String): String = {
    val lines = headLines(dir)
    val dirty = lines.collect {
      case l if l.startsWith("#dvf=") =>
        "bucket=([0-9a-f]+)/".r.findFirstMatchIn(l).get.group(1)
    }.min
    val out = lines.map {
      case l if l.startsWith(s"#fp=$dirty:") =>
        l.split(":").take(3).mkString(":")
      case l if l.startsWith("#ts=") => s"#ts=${l.drop(4).toLong + 1}"
      case l => l
    }
    val next = MergeTable.versions(spark, dir).last + 1
    Files.write(manifestFile(dir, next), out.mkString("\n").getBytes(UTF_8))
    s"cut #fp of bucket $dirty"
  }

  private def rows(ks: Seq[Long], tag: String): DataFrame = {
    import spark.implicits._
    ks.map(k => (k, s"$tag$k", k * 10 + tag.length, (k % 7).toInt))
      .toDF("key", "value", "cents", "qty")
  }

  private def keys(ks: Long*): DataFrame = {
    import spark.implicits._
    ks.toDF("key")
  }

  /** The history: each step runs one verb and describes its result. */
  private def steps(dir: String): Seq[(String, () => Any)] = {
    import MergeTable.{MergeAction, MergeWhen}
    Seq(
      "create" -> (() => MergeTable.create(
        rows(1L to 160L, "v"), dir, "key", 1)),
      "upsert" -> (() => MergeTable.upsert(spark, dir,
        rows((5L to 12L) ++ (161L to 164L), "u"))),
      "upsert empty batch" -> (() => MergeTable.upsert(spark, dir,
        rows(Seq.empty[Long], "e"))),
      "deleteKeys" -> (() => MergeTable.deleteKeys(spark, dir,
        keys(3L, 40L, 41L, 999L))),
      "merge with token" -> (() => MergeTable.merge(spark, dir,
        rows(Seq(20L, 21L, 22L, 170L), "m"),
        matched = Seq(
          MergeWhen(Some(col("src.key") === 22L), MergeAction.Delete),
          MergeWhen(None, MergeAction.UpdateAll)),
        notMatched = Seq(MergeWhen(None, MergeAction.UpdateAll)),
        idempotencyToken = Some("replay:1"))),
      "setProperties bloom" -> (() => MergeTable.setProperties(spark, dir,
        Map("graft.bloom.columns" -> "value", "graft.bloom.bits" -> "256"))),
      "deleteKeysMor" -> (() => MergeTable.deleteKeysMor(spark, dir,
        keys(50L, 51L, 52L, 53L, 60L))),
      "upsertMor into dirty buckets" -> (() => MergeTable.upsertMor(spark,
        dir, rows(Seq(52L, 54L, 61L, 171L), "w"))),
      "deleteWhereMor" -> (() => MergeTable.deleteWhereMor(spark, dir,
        col("cents") > 1500L && col("cents") < 1560L)),
      "mergeMor with token" -> (() => MergeTable.mergeMor(spark, dir,
        rows(Seq(70L, 71L, 72L, 172L), "n"),
        matched = Seq(
          MergeWhen(Some(col("src.key") === 71L), MergeAction.Delete),
          MergeWhen(None, MergeAction.Update(Map(
            "value" -> concat(col("tgt.value"), lit("+")))))),
        notMatched = Seq(MergeWhen(None, MergeAction.UpdateAll)),
        idempotencyToken = Some("replay:2"))),
      "cut a dirty bucket's fingerprint" -> (() => cutFingerprint(dir)),
      "compactDvs" -> (() => MergeTable.compactDvs(spark, dir)),
      "optimize scoped" -> (() => MergeTable.optimize(spark, dir, "cents",
        buckets = Some(Seq("0", "1", "2")))),
      "optimize striped" -> (() => MergeTable.optimize(spark, dir, "cents",
        maxRecordsPerFile = Some(4L))),
      "upsertMor after layout" -> (() => MergeTable.upsertMor(spark, dir,
        rows(Seq(80L, 81L), "x"))),
      "compactDvs with layout" -> (() => MergeTable.compactDvs(spark, dir)),
      "optimizeZOrderN scoped" -> (() => MergeTable.optimizeZOrderN(spark,
        dir, Seq("cents", "qty"), buckets = Some(Seq("3", "4")))),
      "optimizeZOrderN full" -> (() => MergeTable.optimizeZOrderN(spark,
        dir, Seq("cents", "qty"), maxRecordsPerFile = Some(5L))),
      "renameColumn" -> (() => MergeTable.renameColumn(spark, dir,
        "value", "label")),
      "widenColumn" -> (() => MergeTable.widenColumn(spark, dir, "qty",
        "bigint")),
      "upsert after rename and widen" -> (() => MergeTable.upsert(spark,
        dir, rows(Seq(90L, 173L), "y").withColumnRenamed("value", "label")
          .withColumn("qty", col("qty").cast("long")))),
      "unsetProperties" -> (() => MergeTable.unsetProperties(spark, dir,
        Seq("graft.bloom.bits"))),
      "restore" -> (() => MergeTable.restore(spark, dir, 9L)),
      "rebucket" -> (() => MergeTable.rebucket(spark, dir, 2)),
      "deleteKeys after rebucket" -> (() => MergeTable.deleteKeys(spark, dir,
        keys(100L, 101L))),
      "dropColumn" -> (() => MergeTable.dropColumn(spark, dir, "qty")))
  }

  /** Per step: its name, job count and result, then the lines its
    * commit removed (`-`) and added (`+`) against the previous head. */
  private def replay(dir: String): Seq[String] = {
    var prev = Seq.empty[String]
    steps(dir).flatMap { case (name, run) =>
      var out: Any = null
      val jobs = SparkJobs.during(spark) { out = run() }
      val head = headLines(dir).map(normalised).sorted
      val delta =
        prev.diff(head).map("- " + _) ++ head.diff(prev).map("+ " + _)
      prev = head
      Seq(s"## $name", s"jobs: $jobs", s"result: $out") ++ delta
    }
  }

  private def freshDir(): String =
    Files.createTempDirectory("graft-replay").resolve("t").toString

  test("every writer verb commits the recorded manifest lines and runs " +
      "the recorded Spark jobs") {
    replay(freshDir()): Unit // warm-up pass
    val got = replay(freshDir())
    val outDir = Paths.get(sys.props("user.dir"), "target", "writer-replay")
    Files.createDirectories(outDir)
    Files.write(outDir.resolve("writer_replay.golden"),
      got.mkString("", "\n", "\n").getBytes(UTF_8))
    val res = Option(getClass.getResourceAsStream(
      "/graft/ext/writer_replay.golden"))
    assert(res.isDefined, s"no golden record; this run's is in $outDir")
    val want = try scala.io.Source.fromInputStream(res.get, "UTF-8")
        .getLines().toSeq
      finally res.get.close()
    def sections(ls: Seq[String]): Seq[(String, Seq[String])] =
      ls.foldLeft(Vector.empty[(String, Vector[String])]) {
        case (acc, l) if l.startsWith("## ") => acc :+ (l -> Vector.empty)
        case (acc, l) => acc.init :+ (acc.last._1 -> (acc.last._2 :+ l))
      }
    val (g, w) = (sections(got), sections(want))
    assert(g.map(_._1) === w.map(_._1), "the history's steps differ")
    for (((step, gl), (_, wl)) <- g.zip(w))
      assert(gl === wl, s"$step: " +
        s"missing ${wl.diff(gl).mkString("[", " | ", "]")}, " +
        s"unexpected ${gl.diff(wl).mkString("[", " | ", "]")}")
  }
}

package graft.ingest

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based invariants of the ingestion contract (SURVEY.md §5.3):
  * flatten+validate never throw on arbitrary null patterns, the
  * valid/invalid split partitions the input, and missing_fields is exact.
  */
object IngestProperties extends Properties("Ingest") {

  private def spark = graft.SparkSpec.session

  private val genStr: Gen[String] =
    Gen.option(Gen.alphaNumStr.map(_.take(20))).map(_.orNull)
  private val genLong: Gen[java.lang.Long] =
    Gen.option(Gen.choose(1L, 1000000L)).map(_.map(Long.box).orNull)
  private val genIso: Gen[String] =
    Gen.option(Gen.choose(0, 365 * 50)).map(
      _.map(d => java.time.Instant.EPOCH.plusSeconds(d * 86400L).toString).orNull)
  private val genOwner: Gen[Row] = Gen.oneOf(
    Gen.const(null.asInstanceOf[Row]),
    for { l <- genStr; i <- genLong; t <- genStr; a <- genStr; h <- genStr }
      yield Row(l, i, t, a, h))

  private val genRaw: Gen[Row] = for {
    id <- genLong; name <- genStr; fn <- genStr; hu <- genStr; d <- genStr
    st <- genLong; lang <- genStr; ca <- genIso; ua <- genIso; ow <- genOwner
  } yield Row(id, name, fn, hu, d, st, lang, ca, ua, ow)

  private def df(rows: List[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), RepoSchema.raw)

  private val genBatch: Gen[List[Row]] = Gen.listOfN(8, genRaw)

  property("flatten never throws and always yields the 14-column contract") =
    forAll(genBatch) { rows =>
      val flat = IngestPipeline.flatten(df(rows))
      flat.schema.fieldNames.toSeq == RepoSchema.requiredFields &&
        flat.count() == rows.length
    }

  property("valid and invalid partition the input") =
    forAll(genBatch) { rows =>
      val v = IngestPipeline.withValidation(IngestPipeline.flatten(df(rows)))
      val (valid, invalid) = IngestPipeline.split(v)
      valid.count() + invalid.count() == rows.length
    }

  property("is_valid holds iff no required field is null") =
    forAll(genBatch) { rows =>
      val v = IngestPipeline.withValidation(IngestPipeline.flatten(df(rows)))
      v.collect().forall { r =>
        val nullCount = RepoSchema.requiredFields
          .count(c => r.isNullAt(r.fieldIndex(c)))
        val missing = r.getSeq[String](r.fieldIndex("missing_fields"))
        r.getAs[Boolean]("is_valid") == (nullCount == 0) &&
          missing.length == nullCount &&
          missing.forall(RepoSchema.requiredFields.contains)
      }
    }

  property("cursor monotonicity: metrics last_repo_id >= start for non-empty runs") =
    forAll(genBatch) { rows =>
      val withIds = rows.zipWithIndex.map { case (r, i) =>
        Row(Long.box(100L + i), r.get(1), r.get(2), r.get(3), r.get(4),
          r.get(5), r.get(6), r.get(7), r.get(8), r.get(9))
      }
      val v = IngestPipeline.withValidation(IngestPipeline.flatten(df(withIds)))
      val m = IngestPipeline.metrics(v.collect().toSeq, startRepoId = 99L,
        failedCount = 0, apiCalls = 0L, cacheHits = 0L,
        testMode = true, durationSeconds = 0.0)
      m.getAs[Long]("last_repo_id") >= 99L &&
        m.getAs[Long]("valid_count") + m.getAs[Long]("invalid_count") ==
          m.getAs[Long]("total_processed")
    }
}

package graft.plans

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet,
  LessThan, LessThanOrEqual, Literal, PredicateHelper, StartsWith}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.types.{ByteType, DataType, DateType,
  DecimalType, IntegerType, LongType, ShortType, StringType,
  TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ext.StatBound

/** VALUE-PREDICATE FILE PRUNING for the snapshot table
  * ([[graft.ext.MergeTable]]): every manifest entry carries per-file
  * min/max stats for the table's stat-typed columns (`#st=` lines,
  * computed by the same epoch read-back scan that fingerprints the
  * commit), and this rule filters a scan's FILE LIST against the
  * pushed-down range predicates at PLAN time — the Iceberg/Delta
  * manifest-stats read path. Without it, `WHERE cents BETWEEN …` on a
  * z-striped 100 TB snapshot still SCHEDULES every file and leans on
  * parquet row-group skipping alone; with it, the plan itself opens
  * only the stripes whose stats overlap the predicate box — the
  * difference between reading one z-order stripe set and touching
  * every bucket's files.
  *
  * Covered column/literal kinds (see [[StatBound]]): integrals, dates
  * (epoch days), timestamps (epoch micros — LTZ as instant-micros, NTZ
  * as wall-clock micros, each compared against literals of its own
  * type under the identical internal encoding), decimals of precision ≤ 18
  * (unscaled at the column's scale — the literal's DecimalType must
  * EQUAL the column's, which analysis guarantees for an uncast
  * attribute), and strings (truncated Iceberg-style bounds compared in
  * UTF-8 unsigned byte order — exactly UTF8String's comparator, so the
  * engine and the stats agree on "between").
  *
  * Soundness: a file is dropped only when the manifest attests that NO
  * non-null value of a constrained column falls in the predicate's
  * range; every extracted predicate shape (comparisons against
  * literals, IN lists) is null-rejecting, so rows reading null for the
  * column cannot match either. String bounds are truncated WIDE (min
  * truncates to a prefix, max increments past the prefix), so a
  * truncated bound may keep an extra file, never drop a matching one.
  * Everything off-pattern keeps the file or silences the rule
  * entirely: a file without stats (legacy manifest, post-evolution
  * column), an unsupported or kind-mismatched literal, a non-MergeTable
  * scan (a `bucket` partition column, the footer key stamp and the
  * `<dir>/data/v=…/bucket=…` path shape must all be present, checked
  * in that order and before any file system call), a relation whose
  * files span two table dirs. The rewrite swaps ONLY the file index — same
  * schema, same output attribute ids, condition kept for row-level
  * evaluation — so the rule can never change results, only the files
  * scheduled.
  *
  * Registration: injected by [[graft.GraftExtensions]] as a pre-CBO
  * rule, which Spark runs once per plan after the operator batches
  * have pushed every filter onto its relation, or per-session via
  * [[StatsFilePruning.enable]]. A prepared lookup
  * ([[MergeTableLookup]]) reaches the optimizer as one leaf, so the
  * rule has nothing to match in it. */
object StatsFilePruning extends Rule[LogicalPlan] with PredicateHelper {

  private val EntryPath = "^(.*)/data/(v=[^/]+/bucket=[^/]+/[^/]+)$".r

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, lr: LogicalRelation)
        if lr.relation.isInstanceOf[HadoopFsRelation] =>
      try pruneFilter(f, cond, lr,
        lr.relation.asInstanceOf[HadoopFsRelation])
      catch { case scala.util.control.NonFatal(_) => f }
  }

  /** A stat-typed attribute's literal comparand as a [[StatBound]] —
    * None for every kind/type mismatch (which silences the bound, not
    * the query). Decimal literals must carry the COLUMN's exact
    * DecimalType so unscaled longs agree on scale; date/timestamp
    * literals are Catalyst's internal days/micros already. */
  private def boundOf(dt: DataType, l: Literal): Option[StatBound] =
    (dt, l.value) match {
      case (_, null) => None
      case (ByteType | ShortType | IntegerType | LongType, _) =>
        l.value match {
          case i: java.lang.Integer => Some(StatBound.L(i.longValue))
          case v: java.lang.Long => Some(StatBound.L(v.longValue))
          case s: java.lang.Short => Some(StatBound.L(s.longValue))
          case b: java.lang.Byte => Some(StatBound.L(b.longValue))
          case _ => None
        }
      case (DateType, i: java.lang.Integer) if l.dataType == DateType =>
        Some(StatBound.L(i.longValue))
      case (TimestampType, v: java.lang.Long)
          if l.dataType == TimestampType =>
        Some(StatBound.L(v.longValue))
      case (TimestampNTZType, v: java.lang.Long)
          if l.dataType == TimestampNTZType =>
        Some(StatBound.L(v.longValue))
      case (d: DecimalType, v: org.apache.spark.sql.types.Decimal)
          if d.precision <= 18 && l.dataType == d =>
        scala.util.Try(StatBound.L(v.toUnscaledLong)).toOption
      case (StringType, s: UTF8String) if l.dataType == StringType =>
        Some(StatBound.S(s.getBytes.clone()))
      case _ => None
    }

  /** Values inside an InSet are internal Catalyst values with no
    * Literal wrapper; re-wrap per the attribute's type. */
  private def inSetBound(dt: DataType, v: Any): Option[StatBound] =
    v match {
      case null => None
      case i: java.lang.Integer
          if Seq(ByteType, ShortType, IntegerType, LongType, DateType)
            .contains(dt) => Some(StatBound.L(i.longValue))
      case n: java.lang.Long
          if Seq(LongType, TimestampType, TimestampNTZType)
            .contains(dt) =>
        Some(StatBound.L(n.longValue))
      case s: java.lang.Short => Some(StatBound.L(s.longValue))
      case b: java.lang.Byte => Some(StatBound.L(b.longValue))
      case d: org.apache.spark.sql.types.Decimal =>
        dt match {
          case dd: DecimalType if dd.precision <= 18 &&
              d.scale == dd.scale =>
            scala.util.Try(StatBound.L(d.toUnscaledLong)).toOption
          case _ => None
        }
      case s: UTF8String if dt == StringType =>
        Some(StatBound.S(s.getBytes.clone()))
      case _ => None
    }

  private def statTyped(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case DateType | TimestampType | TimestampNTZType | StringType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  /** Conjunctive [lo, hi] bounds per column name, from the
    * null-rejecting literal comparisons in `cond` that reference the
    * relation's own stat-typed attributes. Inclusive and conservative
    * (strict bounds widen to inclusive — pruning may keep an extra
    * file, never drop a matching one). */
  private def ranges(cond: Expression, lr: LogicalRelation)
      : Map[String, (Option[StatBound], Option[StatBound])] = {
    def own(a: AttributeReference): Boolean =
      lr.outputSet.contains(a) && statTyped(a.dataType)
    val bounds = scala.collection.mutable.Map
      .empty[String, (Option[StatBound], Option[StatBound])]
    def tighter(a: Option[StatBound], b: Option[StatBound],
        wantMax: Boolean): Option[StatBound] = (a, b) match {
      case (Some(x), Some(y)) =>
        // mixed kinds cannot happen within one column (the literal
        // kind is fixed by the attribute type); keep x defensively
        StatBound.cmp(x, y) match {
          case Some(c) => if ((c >= 0) == wantMax) Some(x) else Some(y)
          case None => Some(x)
        }
      case _ => a.orElse(b)
    }
    def add(a: AttributeReference, lo: Option[StatBound],
        hi: Option[StatBound]): Unit = if (own(a)) {
      val (clo, chi) = bounds.getOrElse(a.name, (None, None))
      bounds(a.name) = (
        tighter(clo, lo, wantMax = true), // lower bounds: keep the max
        tighter(chi, hi, wantMax = false)) // upper bounds: keep the min
    }
    def b(a: AttributeReference, l: Literal): Option[StatBound] =
      boundOf(a.dataType, l)
    splitConjunctivePredicates(cond).foreach {
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        add(a, b(a, l), None)
      case GreaterThan(a: AttributeReference, l: Literal) =>
        add(a, b(a, l), None)
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        add(a, None, b(a, l))
      case LessThan(a: AttributeReference, l: Literal) =>
        add(a, None, b(a, l))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        add(a, None, b(a, l))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        add(a, None, b(a, l))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        add(a, b(a, l), None)
      case LessThan(l: Literal, a: AttributeReference) =>
        add(a, b(a, l), None)
      case EqualTo(a: AttributeReference, l: Literal) =>
        add(a, b(a, l), b(a, l))
      case EqualTo(l: Literal, a: AttributeReference) =>
        add(a, b(a, l), b(a, l))
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        val bs = vs.map(v => b(a, v.asInstanceOf[Literal]))
        if (bs.forall(_.isDefined)) {
          val s = bs.flatten
          add(a, s.reduceOption((x, y) =>
              if (StatBound.lte(x, y)) x else y),
            s.reduceOption((x, y) =>
              if (StatBound.gte(x, y)) x else y))
        }
      // LIKE 'p%' (LikeSimplification rewrites it to StartsWith):
      // every match sits in [p, p+1) — lo = the prefix itself, hi =
      // the least string past every p-prefixed one (None = unbounded
      // when the prefix cannot increment). Null-rejecting: LIKE on a
      // null row is null, filtered.
      case StartsWith(a: AttributeReference, l: Literal)
          if a.dataType == StringType && l.value != null =>
        val p = l.value.asInstanceOf[UTF8String].toString
        // lo = the FULL prefix (every match has it as a prefix, so is
        // ≥ it bytewise) — exact, no truncation needed on the
        // predicate side; only STORED bounds truncate
        add(a, Some(StatBound.S(
            p.getBytes(java.nio.charset.StandardCharsets.UTF_8))),
          StatBound.prefixUpper(p))
      case InSet(a: AttributeReference, vs) if vs.nonEmpty && own(a) =>
        val bs = vs.toSeq.map(v => inSetBound(a.dataType, v))
        if (bs.forall(_.isDefined)) {
          val s = bs.flatten
          add(a, s.reduceOption((x, y) =>
              if (StatBound.lte(x, y)) x else y),
            s.reduceOption((x, y) =>
              if (StatBound.gte(x, y)) x else y))
        }
      case _ =>
    }
    bounds.toMap
  }

  /** EQUALITY probes for BLOOM file skipping: one (column, rendered
    * values) entry per `col = lit` / `col IN (…)` conjunct over an
    * integral or string attribute — the two kinds whose internal
    * value renders identically to the write-side
    * `md5(cast(col as string))` (dates/timestamps render differently
    * from their internal ints and are excluded). A file passes a
    * conjunct when ANY of its values might be present. */
  private def eqProbes(cond: Expression, lr: LogicalRelation)
      : Seq[(String, Seq[String])] = {
    def own(a: AttributeReference): Boolean =
      lr.outputSet.contains(a) && (a.dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             StringType => true
        case _ => false
      })
    def render(a: AttributeReference, v: Any): Option[String] =
      (a.dataType, v) match {
        case (_, null) => None
        case (ByteType, b: java.lang.Byte) => Some(b.toString)
        case (ShortType, s: java.lang.Short) => Some(s.toString)
        case (IntegerType, i: java.lang.Integer) => Some(i.toString)
        case (LongType, n: java.lang.Long) => Some(n.toString)
        // analysis upcasts literals to the column type, but InSet
        // values keep their internal class — accept the narrower ones
        case (LongType, i: java.lang.Integer) => Some(i.toString)
        case (LongType, s: java.lang.Short) => Some(s.toString)
        case (IntegerType, s: java.lang.Short) => Some(s.toString)
        case (StringType, s: UTF8String) => Some(s.toString)
        case _ => None
      }
    def lits(a: AttributeReference, vs: Seq[Any])
        : Option[(String, Seq[String])] = {
      val rendered = vs.map(render(a, _))
      if (rendered.exists(_.isEmpty)) None
      else Some(a.name -> rendered.flatten)
    }
    splitConjunctivePredicates(cond).flatMap {
      case EqualTo(a: AttributeReference, l: Literal) if own(a) &&
          l.dataType == a.dataType => lits(a, Seq(l.value))
      case EqualTo(l: Literal, a: AttributeReference) if own(a) &&
          l.dataType == a.dataType => lits(a, Seq(l.value))
      case In(a: AttributeReference, vs) if own(a) && vs.nonEmpty &&
          vs.forall(v => v.isInstanceOf[Literal] &&
            v.dataType == a.dataType) =>
        lits(a, vs.map(_.asInstanceOf[Literal].value))
      case InSet(a: AttributeReference, vs) if own(a) && vs.nonEmpty =>
        lits(a, vs.toSeq)
      case _ => None
    }
  }

  private def pruneFilter(f: Filter, cond: Expression,
      lr: LogicalRelation, hfs: HadoopFsRelation): LogicalPlan = {
    val rs = ranges(cond, lr)
    if (rs.isEmpty) return f
    // a MergeTable relation is known by its layout and key stamp, as
    // DriverLookup knows it: every other scan leaves before any path
    // is matched or any file system is asked
    if (!hfs.partitionSchema.fieldNames.contains(
          KeyToBucketPruning.BucketColName) ||
        !hfs.dataSchema.exists(_.metadata.contains(
          KeyToBucketPruning.KeyHexMeta))) return f
    val files = hfs.location.inputFiles
    if (files.isEmpty) return f
    // cheap shape probe FIRST: a foreign parquet scan must reject on
    // its first file, not after an O(files) regex pass at plan time
    files.head match {
      case EntryPath(_, _) =>
      case _ => return f
    }
    // every file must sit under ONE table's data dir, in the table's
    // own epoch/bucket layout — anything else is not a MergeTable scan
    val parsed = files.map {
      case EntryPath(d, rel) => Some((d, rel))
      case _ => None
    }
    if (parsed.exists(_.isEmpty)) return f
    val dirs = parsed.flatten.map(_._1).distinct
    if (dirs.length != 1) return f
    val dir = dirs.head
    val spark = hfs.sparkSession
    // a directory without manifests has no stats and no blooms, so
    // nothing below can drop a file
    val stats = graft.ext.MergeTable.fileStatsIndex(spark, dir)
    // BLOOM skipping: an attested file drops when EVERY value of some
    // equality conjunct provably misses its filter (all-probe-bits
    // set is the only way a present value reads — no false negatives,
    // so pruning can only drop files with no match)
    val probes = eqProbes(cond, lr)
    val blooms =
      if (probes.isEmpty)
        Map.empty[String, Map[String, (Long, Array[Long])]]
      else graft.ext.MergeTable.fileBloomIndex(spark, dir)
    def bloomKeep(rel: String): Boolean =
      probes.isEmpty || {
        val fb = blooms.getOrElse(rel, Map.empty)
        probes.forall { case (cname, values) =>
          fb.get(cname) match {
            case None => true // column unattested: never prune
            case Some((m, words)) => values.exists { v =>
              graft.ext.MergeTable.bloomPositions(v, m).forall { p =>
                ((words((p / 64).toInt) >>> (p % 64).toInt) & 1L) == 1L
              }
            }
          }
        }
      }
    val keep = files.zip(parsed.flatten.map(_._2)).filter {
      case (_, rel) => bloomKeep(rel) &&
        (stats.get(rel) match {
          case None => true // unattested file: never prune
          case Some(colStats) =>
            rs.forall { case (cname, (lo, hi)) =>
              colStats.get(cname) match {
                case None => true // column unattested in this file
                case Some((None, None)) =>
                  // the file stores ONLY nulls for the column, and the
                  // extracted predicates are null-rejecting: no match
                  false
                case Some((Some(mn), Some(mx))) =>
                  // keep unless PROVABLY disjoint: a kind mismatch
                  // (cmp None) keeps the file
                  lo.forall(l => StatBound.cmp(l, mx).forall(_ <= 0)) &&
                    hi.forall(h => StatBound.cmp(h, mn).forall(_ >= 0))
                case _ => true
              }
            }
        })
    }.map(_._1)
    if (keep.length >= files.length) return f
    // swap ONLY the file index: same options (incl. basePath, so the
    // bucket/v partition columns still parse), same schema for
    // partition-type resolution, same output attribute ids — parents
    // and the kept row-level Filter are untouched
    val idx = new InMemoryFileIndex(spark, keep.map(new Path(_)).toSeq,
      hfs.options, Some(hfs.schema))
    val newRel = hfs.copy(location = idx)(spark)
    Filter(cond, lr.copy(relation = newRel))
  }

  /** Per-session registration for sessions built without
    * `spark.sql.extensions=graft.GraftExtensions` — idempotent. */
  def enable(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }
}

package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  EqualNullSafe, EqualTo, Expression, In, InSet, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** POINT-LOOKUP PARTITION PRUNING for the hash-bucketed snapshot table
  * ([[graft.ext.MergeTable]]): a filter `key = <lit>` (or `key IN
  * (...)`) on a table bucketed by `substring(md5(key), 1, hex)` cannot
  * prune the `bucket=` partition directories on its own — Catalyst has
  * no way to know the partition value is derivable from the key. This
  * rule closes that gap: it computes the md5 prefixes of the literal
  * keys AT PLAN TIME and conjoins `bucket IN (<prefixes>)`, which the
  * file-source strategy then turns into an ordinary partition filter —
  * a point lookup on a 100 TB table reads ONE bucket's files instead
  * of every file in the snapshot. A lookup so pruned to a single
  * bucket then collects on the DRIVER, without a Spark job
  * ([[DriverLookup]]): one bucket's files are too small to pay for
  * scheduling a task. A SQL `merge_table` key lookup of the prepared
  * shape, and [[graft.ext.MergeTable.readKeys]], never reach this rule:
  * they arrive as one [[MergeTableLookup]] leaf whose fragment already
  * carries the same `bucket` conjunct, computed by [[bucketOf]].
  *
  * The key ↔ bucket contract travels IN THE PARQUET FOOTERS: the
  * table's write path stamps the key column's field metadata with the
  * snapshot's bucket width ([[KeyToBucketPruning.KeyHexMeta]]), so the
  * scan relation's own output carries it — which is the only placement
  * that survives predicate pushdown (metadata on a projection alias is
  * erased the moment the filter is pushed beneath the Project). The
  * rule therefore fires wherever the filter lands: directly above the
  * relation after pushdown, or higher up before it.
  *
  * Soundness: every row's `bucket` partition value IS the md5 prefix
  * of its key (the write path derives one from the other), so
  * `key = k` implies `bucket = md5prefix(k)` for every snapshot and
  * every time-travel version (each version's files carry the width
  * they were written at; a [[graft.ext.MergeTable.rebucket]] rewrites
  * every file, so one snapshot never mixes widths). The rule stays
  * SILENT — never fires, never wrong — when anything is off-pattern:
  * a non-literal comparand, an unsupported key type (only integral
  * and string keys stringify exactly like Spark's CAST AS STRING), a
  * missing/ambiguous bucket column (e.g. above a join of two bucketed
  * scans, where picking a side would be unsound — pushdown splits the
  * predicate per side and the rule fires there instead), a `bucket`
  * that is not the scan's PARTITION column (a derived table keeps the
  * footer stamp but may have overwritten the data column — and a
  * data-column conjunct prunes nothing anyway), or a condition that
  * already constrains the bucket (the fixed-point guard: the rule's
  * own output stops it re-firing).
  *
  * Registration: injected by [[graft.GraftExtensions]]
  * (`spark.sql.extensions=graft.GraftExtensions`), or per-session via
  * [[KeyToBucketPruning.enable]]. */
object KeyToBucketPruning extends Rule[LogicalPlan] with PredicateHelper {

  /** Field-metadata key on the TABLE KEY column: the bucket width (hex
    * digits) its snapshot was written at. Stamped into parquet footers
    * by MergeTable's epoch writer; its presence marks the attribute as
    * a bucketed key. */
  val KeyHexMeta = "graft.mt.keyHex"

  /** Name of the partition column the conjunct constrains. */
  val BucketColName = "bucket"

  /** Driver-side restatement of the write path's
    * `substring(md5(cast(key as string)), 1, hex)`. */
  private[graft] def bucketOf(keyAsString: String, hex: Int): String =
    java.util.HexFormat.of().formatHex(MessageDigest.getInstance("MD5")
      .digest(keyAsString.getBytes("UTF-8"))).take(hex)

  /** Spark's CAST(key AS STRING) for the supported key types; None =
    * unsupported (floating/decimal/date render differently — the rule
    * stays silent rather than guess). */
  private def stringify(v: Any): Option[String] = v match {
    case null => None
    case l: java.lang.Long => Some(l.toString)
    case i: java.lang.Integer => Some(i.toString)
    case s: java.lang.Short => Some(s.toString)
    case b: java.lang.Byte => Some(b.toString)
    case u: UTF8String => Some(u.toString)
    case s: String => Some(s)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val extra = conjuncts.flatMap(c => bucketConjunct(c, child, cond))
      if (extra.isEmpty) f
      else Filter((conjuncts ++ extra).reduce(And), child)
  }

  /** The `bucket IN (...)` conjunct implied by one key-literal
    * predicate, or None when off-pattern. */
  private def bucketConjunct(c: Expression, child: LogicalPlan,
      cond: Expression): Option[Expression] = {
    val keyVals: Option[(AttributeReference, Seq[Any])] = c match {
      case EqualTo(a: AttributeReference, l: Literal) => Some((a, Seq(l.value)))
      case EqualTo(l: Literal, a: AttributeReference) => Some((a, Seq(l.value)))
      case EqualNullSafe(a: AttributeReference, l: Literal)
        if l.value != null => Some((a, Seq(l.value)))
      case EqualNullSafe(l: Literal, a: AttributeReference)
        if l.value != null => Some((a, Seq(l.value)))
      case In(a: AttributeReference, vs)
        if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        Some((a, vs.map(_.asInstanceOf[Literal].value)))
      case InSet(a: AttributeReference, vs) => Some((a, vs.toSeq))
      case _ => None
    }
    keyVals.flatMap { case (attr, raw) =>
      if (!attr.metadata.contains(KeyHexMeta)) None
      else {
        val hex = attr.metadata.getLong(KeyHexMeta).toInt
        // PROVENANCE, not just name: both attributes must come from ONE
        // scan. A join partner with its own unrelated "bucket" column
        // must never be constrained by this key's md5, and a Union's
        // output wears the FIRST child's metadata while carrying every
        // child's rows (two snapshots at different widths would
        // mis-prune the second). So the rule fires only when the
        // filter's child subtree has exactly ONE leaf and that leaf
        // outputs both the key and the bucket — i.e. the filter sits
        // over a single scan. Nothing is lost: predicate pushdown
        // distributes filters through joins and unions, and the rule
        // (same fixed-point batch) fires on each side's own filter
        // with each side's own width.
        val leaves = child.collectLeaves()
        val singleLeaf = leaves match {
          case Seq(l) if l.outputSet.contains(attr) => true
          case _ => false
        }
        // the bucket column must be the scan's PARTITION column, not
        // merely a data column wearing the right name: the KeyHexMeta
        // stamp rides parquet footers into any DERIVED table written
        // from a MergeTable read, and a derived table whose `bucket`
        // DATA column was overwritten (legal — upsert even permits it)
        // would re-trigger the rule with values that no longer satisfy
        // the key↔bucket invariant — silent missing rows. Only the
        // table's own layout maintains the invariant, and only there
        // does the conjunct prune anything (a data-column filter reads
        // every file anyway) — so the partition-column requirement is
        // both the soundness fence and free of any lost capability.
        val partitionBacked = singleLeaf && (leaves.head match {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.partitionSchema.fieldNames.contains(BucketColName)
              case _ => false
            }
          case _ => false
        })
        val bucketAttrs =
          if (!partitionBacked) Nil
          else child.output.filter(o =>
            o.name == BucketColName && o.dataType == StringType &&
              o.exprId != attr.exprId &&
              leaves.head.outputSet.contains(o))
        // exactly one candidate, not already constrained: above a join
        // of two bucketed scans the owner is ambiguous — skip (pushdown
        // will split the predicate per side and the rule fires there)
        if (bucketAttrs.length != 1) None
        else if (cond.references.contains(bucketAttrs.head)) None
        else {
          val strs = raw.filter(_ != null).map(stringify)
          if (strs.exists(_.isEmpty)) None // unsupported key type: silent
          else {
            val buckets = strs.flatten.map(bucketOf(_, hex)).distinct.sorted
            Some(
              if (buckets.isEmpty) Literal.FalseLiteral // all-null IN list
              else In(bucketAttrs.head, buckets.map(Literal(_))))
          }
        }
      }
    }
  }

  /** Per-session registration for sessions built without
    * `spark.sql.extensions=graft.GraftExtensions` — idempotent. */
  def enable(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }
}

package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{MultiInstanceRelation,
  UnresolvedAttribute, UnresolvedStar, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeSet, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode,
  LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileRelation, SparkPlan,
  SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy,
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** PREPARED POINT LOOKUPS on [[graft.ext.MergeTable]]. A key lookup
  *
  * {{{
  * SELECT <cols | *> FROM merge_table('<dir>'[, <version | 'tag'>])
  * WHERE <key> = <literal>
  * }}}
  *
  * reads one bucket's files, yet the general path pays for a whole
  * Catalyst pass first: the analyzer resolves the TVF, the filter and
  * every column, and the optimizer runs its fixed-point batches, with
  * [[KeyToBucketPruning]] and [[StatsFilePruning]], over a plan whose
  * outcome is known the moment the shape is. Here the parser
  * ([[GraftSqlParser]]) recognises that shape in the plan its delegate
  * parsed and returns an [[UnresolvedMergeTableLookup]]; the
  * resolution rule [[ResolveMergeTableLookup]] turns it into one
  * resolved leaf, [[MergeTableLookup]], whose fragment is already in
  * optimized form — `Project` over `Filter(key = lit AND bucket =
  * md5prefix(lit))` over the snapshot's cached scan relation — and
  * [[MergeTableLookupStrategy]] plans that fragment with Spark's own
  * `FileSourceStrategy`. The physical plan is the general path's
  * `Project → Filter → FileSourceScanExec`, so [[DriverLookup]] wraps
  * it unchanged and `toRdd`, `take`, writes and caching keep the
  * scheduled scan. [[graft.ext.MergeTable.readKeys]] builds the same
  * leaf.
  *
  * The match is on the parsed plan, never on the SQL text, and only at
  * its top: EXPLAIN, CTEs, views, aliases, extra conjuncts and
  * IN-lists keep the general path. Resolution falls back to the plan
  * the delegate parsed — the general path, with its own errors —
  * whenever the leaf could differ from it: a snapshot carrying
  * deletion vectors, a column that is not the table's key or is
  * unknown, a literal that does not bind losslessly to the key type
  * (NULL, out of range, another type family), or any failure while
  * preparing. The version resolves per statement, as the TVF does, so
  * a commit between two lookups is seen by the second. */
object PreparedLookup {

  /** The lookup the parser matched: the table dir, the version
    * argument (an integer or string literal, which
    * [[graft.ext.MergeTable.versionArg]] reads as the `merge_table` TVF
    * does), the selected column names (None for `*`), the compared
    * column's name and the literal it equals. */
  final case class Spec(dir: String, version: Option[Literal],
      columns: Option[Seq[String]], column: String, value: Literal)

  /** `parsed` as an [[UnresolvedMergeTableLookup]] when its top is the
    * lookup shape, else `parsed` itself. Pure: no I/O, no session. */
  def prepare(parsed: LogicalPlan): LogicalPlan = parsed match {
    case Project(list, Filter(cond, t: UnresolvedTableValuedFunction))
        if !t.isStreaming && t.name.length == 1 &&
          t.name.head.equalsIgnoreCase("merge_table") =>
      val spec = for {
        (dir, version) <- tableArgs(t.functionArgs)
        columns <- selected(list)
        (column, value) <- keyEquality(cond)
      } yield Spec(dir, version, columns, column, value)
      spec.fold(parsed)(UnresolvedMergeTableLookup(_,
        new CapturedPlan(parsed)))
    case _ => parsed
  }

  private def tableArgs(args: Seq[Expression])
      : Option[(String, Option[Literal])] = args match {
    case Seq(Literal(d: UTF8String, StringType)) => Some((d.toString, None))
    case Seq(Literal(d: UTF8String, StringType),
        v @ Literal(_, IntegerType | LongType | StringType)) =>
      Some((d.toString, Some(v)))
    case _ => None
  }

  private def selected(list: Seq[Expression]): Option[Option[Seq[String]]] =
    list match {
      case Seq(UnresolvedStar(None)) => Some(None)
      case _ if list.forall {
            case UnresolvedAttribute(Seq(_)) => true
            case _ => false
          } => Some(Some(list.map(_.asInstanceOf[UnresolvedAttribute]
            .nameParts.head)))
      case _ => None
    }

  private def keyEquality(cond: Expression): Option[(String, Literal)] =
    cond match {
      case EqualTo(UnresolvedAttribute(Seq(c)), l: Literal) => Some((c, l))
      case EqualTo(l: Literal, UnresolvedAttribute(Seq(c))) => Some((c, l))
      case _ => None
    }
}

/** The parser's output for a matched lookup: unresolved, so only
  * [[ResolveMergeTableLookup]] acts on it. `parsed` is the delegate's
  * plan, the fallback; it rides an opaque carrier so the analyzer
  * never walks it. */
final case class UnresolvedMergeTableLookup(spec: PreparedLookup.Spec,
    parsed: CapturedPlan) extends LeafNode {
  override def output: Seq[Attribute] = Nil
  override lazy val resolved: Boolean = false
}

/** A prepared key lookup on the snapshot `version` of the table at
  * `dir`: one resolved leaf carrying its optimized `fragment`, which
  * only [[MergeTableLookupStrategy]] plans. Its output is the
  * fragment's. Statistics and `inputFiles` are the fragment's: the
  * files of the pinned buckets. */
final case class MergeTableLookup(dir: String, version: Long,
    fragment: LogicalPlan)
    extends LeafNode with MultiInstanceRelation with FileRelation {

  override lazy val output: Seq[Attribute] = fragment.output

  override def innerChildren: Seq[LogicalPlan] = Seq(fragment)

  override def computeStats(): Statistics = fragment.stats

  /** A self-join's second side: the same fragment under fresh ids. */
  override def newInstance(): MergeTableLookup =
    copy(fragment = Project(output.map(a => Alias(a, a.name)()), fragment))

  override def inputFiles: Array[String] = fragment match {
    case PhysicalOperation(_, filters, lr: LogicalRelation) =>
      lr.relation match {
        case fs: HadoopFsRelation =>
          val parts = AttributeSet(lr.output.filter(a =>
            fs.partitionSchema.fieldNames.contains(a.name)))
          fs.location.listFiles(
              filters.filter(_.references.subsetOf(parts)), Nil)
            .flatMap(_.files).map(_.getPath.toUri.toString)
            .distinct.toArray
        case _ => Array.empty
      }
    case _ => Array.empty
  }

  override def simpleString(maxFields: Int): String =
    s"MergeTableLookup $dir, version $version, " +
      output.mkString("[", ", ", "]")
}

/** Resolves the parser's [[UnresolvedMergeTableLookup]] through
  * [[graft.ext.MergeTable.prepareLookup]], or hands back the parsed
  * plan for the general path. */
final case class ResolveMergeTableLookup(spark: SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u: UnresolvedMergeTableLookup =>
      try graft.ext.MergeTable.prepareLookup(spark, u.spec)
        .getOrElse(u.parsed.plan)
      catch { case scala.util.control.NonFatal(_) => u.parsed.plan }
    case _ => plan
  }
}

/** Plans a [[MergeTableLookup]], with any projection and filters
  * stacked on it, as Spark plans the same operators over the fragment
  * itself: `FileSourceStrategy` turns the pinned bucket into a
  * partition filter and returns `Project → Filter → FileSourceScanExec`. */
object MergeTableLookupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    if (!overLookup(plan)) Nil
    else plan match {
      case PhysicalOperation(projects, filters, l: MergeTableLookup) =>
        val below = filters.reduceOption(And).fold(l.fragment)(
          Filter(_, l.fragment))
        FileSourceStrategy(Project(projects, below))
      case _ => Nil
    }

  /** The planner asks every strategy about every node: the operation
    * extractor runs only where projections and filters end in a
    * lookup leaf. */
  private def overLookup(plan: LogicalPlan): Boolean = plan match {
    case _: MergeTableLookup => true
    case Project(_, child) => overLookup(child)
    case Filter(_, child) => overLookup(child)
    case _ => false
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, BindReferences, EqualNullSafe, EqualTo, Expression,
  In, InSet, InterpretedUnsafeProjection, Literal, NamedExpression,
  PlanExpression, Predicate, PredicateHelper, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarToRowExec,
  FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SparkPlan,
  UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.{FileFormat,
  PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.paths.SparkPath

/** DRIVER-SIDE POINT LOOKUPS on [[graft.ext.MergeTable]] scans. After
  * [[KeyToBucketPruning]] a `key = <lit>` lookup reads one bucket's
  * files, a few KB — yet collecting it through a scheduled one-task
  * job costs tens of milliseconds of per-job machinery (task
  * serialization, the Hadoop-conf broadcast every parquet scan builds,
  * closure cleaning, two codegen compiles per literal) for
  * microseconds of reading. This rule wraps the one plan shape a
  * single-bucket lookup produces — a root `[Project] → [Filter] →
  * FileSourceScanExec` over a MergeTable parquet relation whose
  * partition filter pins `bucket` to exactly one value — in a
  * [[DriverLookupExec]], whose `collect()` reads those files in the
  * driver. Everything else (multi-bucket scans, DV-bearing snapshots'
  * anti-joins, limits, aggregates) is left untouched.
  *
  * Eligibility is the plan itself — no option, no size threshold: the
  * bucket pin bounds the read by MergeTable's table-sized bucket width.
  * A prepared lookup ([[MergeTableLookup]], from SQL or
  * [[graft.ext.MergeTable.readKeys]]) plans to the same shape through
  * `FileSourceStrategy`, with its bucket conjunct as the partition
  * filter, and is wrapped by this same matcher.
  *
  * Registration: injected by [[graft.GraftExtensions]] as a columnar
  * rule's pre-transition pass — the one physical-plan hook Spark runs
  * on the whole plan on the non-adaptive path (a lookup has no
  * exchange, so adaptive execution, and with it the post-planner
  * strategy rules, never sees it). A session built without the
  * extension keeps the scheduled path ([[KeyToBucketPruning.enable]]
  * registers the pruning only). */
object DriverLookup extends Rule[SparkPlan] with PredicateHelper {

  override def apply(plan: SparkPlan): SparkPlan =
    if (fragmentOf(plan).isDefined) DriverLookupExec(plan) else plan

  /** The lookup fragment: (projection, filter, scan) with the
    * projection defaulting to the scan's output. Codegen stage and
    * columnar-transition wrappers are looked through, so the same
    * matcher finds the fragment in the prepared child at execution. */
  private[plans] def fragmentOf(plan: SparkPlan)
      : Option[(Seq[NamedExpression], Option[Expression],
          FileSourceScanExec)] = {
    def strip(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => strip(w.child)
      case i: InputAdapter => strip(i.child)
      case c: ColumnarToRowExec => strip(c.child)
      case other => other
    }
    val (project, below) = strip(plan) match {
      case ProjectExec(pl, c) => (Some(pl), strip(c))
      case other => (None, other)
    }
    val (cond, leaf) = below match {
      case FilterExec(c, s) => (Some(c), strip(s))
      case other => (None, other)
    }
    leaf match {
      case scan: FileSourceScanExec if eligible(scan) &&
          (project.toSeq.flatten ++ cond).forall(e =>
            e.deterministic &&
              !e.exists(_.isInstanceOf[PlanExpression[_]])) =>
        Some((project.getOrElse(scan.output), cond, scan))
      case _ => None
    }
  }

  /** A plain (non-streaming, non-bucketed, no metadata columns, no
    * runtime filters) parquet scan of a MergeTable relation whose
    * partition filter pins `bucket` to one value. */
  private def eligible(scan: FileSourceScanExec): Boolean = {
    val rel = scan.relation
    val layout = scan.requiredSchema.fieldNames.toSeq ++
      rel.partitionSchema.fieldNames
    rel.fileFormat.isInstanceOf[ParquetFileFormat] &&
      scan.stream.isEmpty && rel.bucketSpec.isEmpty &&
      rel.partitionSchema.fieldNames.contains(KeyToBucketPruning.BucketColName) &&
      rel.dataSchema.exists(_.metadata.contains(KeyToBucketPruning.KeyHexMeta)) &&
      scan.output.map(_.name) == layout &&
      !scan.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) &&
      scan.output.find(_.name == KeyToBucketPruning.BucketColName)
        .exists(b => scan.partitionFilters
          .flatMap(splitConjunctivePredicates).exists(pins(_, b)))
  }

  /** Does conjunct `c` pin partition attribute `b` to one value? */
  private def pins(c: Expression, b: Attribute): Boolean = c match {
    case EqualTo(a: AttributeReference, l: Literal) => same(a, b, l)
    case EqualTo(l: Literal, a: AttributeReference) => same(a, b, l)
    case EqualNullSafe(a: AttributeReference, l: Literal) => same(a, b, l)
    case EqualNullSafe(l: Literal, a: AttributeReference) => same(a, b, l)
    case In(a: AttributeReference, Seq(l: Literal)) => same(a, b, l)
    case InSet(a: AttributeReference, vs) =>
      vs.size == 1 && a.exprId == b.exprId
    case _ => false
  }

  private def same(a: AttributeReference, b: Attribute, l: Literal) =
    a.exprId == b.exprId && l.value != null
}

/** Collects a single-bucket lookup fragment ([[DriverLookup]]) in the
  * driver. `executeCollect()` reads exactly the files the scheduled
  * scan would read (`selectedPartitions`, after bucket, stats and
  * bloom pruning) in the scheduled scan's order, through the scan's
  * own parquet reader — so widening upcasts and column mapping behave
  * as in the scan — and evaluates the fragment's filter and projection
  * INTERPRETED, so no code is generated per literal. The reader is
  * cached per relation and required schema
  * ([[graft.ext.MergeTable.lookupReader]]). The scan's SQL metrics
  * (numFiles, numOutputRows, ...) read as after a scheduled run.
  *
  * Every other consumer — `execute()` for `toRdd`, writes, caching,
  * `take` — runs the child, today's scheduled path. */
case class DriverLookupExec(child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"))

  override protected def doExecute()
      : org.apache.spark.rdd.RDD[InternalRow] = child.execute()

  override def executeCollect(): Array[InternalRow] = {
    val (projectList, cond, scan) = DriverLookup.fragmentOf(child)
      .getOrElse(throw new IllegalStateException(
        s"not a driver lookup fragment:\n$child"))
    val rel = scan.relation
    // skip-on-error semantics live in the scheduled file scan only
    val fileOpts = new org.apache.spark.sql.catalyst.FileSourceOptions(
      org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(rel.options))
    if (fileOpts.ignoreMissingFiles || fileOpts.ignoreCorruptFiles)
      return child.executeCollect()
    // the scheduled scan's file list and read order: whole files,
    // largest first (FilePartition packing order)
    val files = scan.selectedPartitions.filePartitionIterator
      .flatMap { p =>
        p.files.map(f => PartitionedFile(p.values,
          SparkPath.fromPath(f.getPath), 0L, f.getLen, Array.empty[String],
          f.getModificationTime, f.getLen))
      }.toArray.sortBy(-_.length)
    val read = graft.ext.MergeTable.lookupReader(rel, scan.requiredSchema,
      () => rel.fileFormat.buildReaderWithPartitionValues(
        sparkSession = rel.sparkSession,
        dataSchema = rel.dataSchema,
        partitionSchema = rel.partitionSchema,
        requiredSchema = scan.requiredSchema,
        filters = Nil,
        options = rel.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
        // a JobConf, so the reader's per-file TaskAttemptContext wraps
        // it instead of copying every Hadoop property per file (the
        // reader only reads it: no pushed filters are set on it)
        hadoopConf = new org.apache.hadoop.mapred.JobConf(
          scan.getHadoopConf(rel.sparkSession, rel.options))))
    val pred = cond.map { c =>
      val p = Predicate.createInterpreted(
        BindReferences.bindReference(c, scan.output))
      p.initialize(0)
      p
    }
    val proj = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(projectList, scan.output))
    val out = Array.newBuilder[InternalRow]
    var scanned = 0L
    files.foreach { f =>
      // read errors surface as the scheduled scan raises them; filter
      // and projection errors propagate as they are
      def reading[T](body: => T): T =
        try body catch {
          case scala.util.control.NonFatal(e) =>
            throw org.apache.spark.sql.graft.Bridge.fileReadError(e,
              f.urlEncodedPath)
        }
      var it: Iterator[InternalRow] = Iterator.empty
      try {
        it = reading(read(f))
        while (reading(it.hasNext)) {
          val row = reading(it.next())
          scanned += 1
          if (pred.forall(_.eval(row))) out += proj(row).copy()
        }
      } finally it match {
        case c: AutoCloseable => c.close()
        case _ =>
      }
    }
    val rows = out.result()
    val scanRows = scan.metrics("numOutputRows")
    scanRows += scanned
    longMetric("numOutputRows") += rows.length
    // the scan's driver-side metrics (numFiles, filesSize, ...) were
    // set by `selectedPartitions`; post them with the row counts, as
    // the scheduled scan's sendDriverMetrics does
    Option(sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY))
      .foreach(id => SQLMetrics.postDriverMetricUpdates(sparkContext, id,
        scan.metrics.values.toSeq :+ longMetric("numOutputRows")))
    rows
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : DriverLookupExec = copy(child = newChild)
}

package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Literal, NamedExpression,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, RepartitionByExpression,
  UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.apache.spark.storage.StorageLevel
import graft.enrich.Dicts
import graft.pipeline.RowKernel

/** The fused parse→enrich kernel as ONE logical plan node: input rows
  * (conv_id, turn_idx, role, text, tool, ts) → 0..N rows of `output`, a
  * subset of [[RowKernel.schema]]. Because the kernel sits in the plan
  * instead of behind an RDD, Catalyst sees the whole query: [[PruneColumns]]
  * narrows `output` to what the plan above reads, and the mode follows from
  * what is left (see [[GraftParse.modeOf]]), and in counts mode narrows the
  * node's input too (see [[GraftParse.countsInput]]). `emitDropped` adds one
  * marker row per turn that yields no event (Sink's single-pass
  * conservation accounting).
  *
  * `output` keeps the attributes (and exprIds) it was built with; pruning
  * only drops entries, so references above the node stay bound. */
case class GraftParse(child: LogicalPlan, output: Seq[Attribute], emitDropped: Boolean,
                      dicts: Broadcast[Dicts]) extends UnaryNode {
  // the kernel produces its output and reads its input by ordinal; in
  // counts mode conv_id and turn_idx arrive as typed nulls
  override def producedAttributes: AttributeSet = outputSet
  override def references: AttributeSet = child.outputSet
  def mode: String = GraftParse.modeOf(output, emitDropped)
  override protected def stringArgs: Iterator[Any] = Iterator(mode, output)
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftParse =
    copy(child = newChild)
}

/** Runs the row kernel over each child partition and emits UnsafeRows of
  * exactly `output`, which is in column-table order (pruning only filters
  * it) — the order the kernel emits. The projection reuses its buffer, so a
  * consumer that keeps rows across `next()` must copy them, as with any
  * SparkPlan. */
case class GraftParseExec(output: Seq[Attribute], emitDropped: Boolean,
                          dicts: Broadcast[Dicts], child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = outputSet
  override def references: AttributeSet = child.outputSet
  def mode: String = GraftParse.modeOf(output, emitDropped)
  override protected def stringArgs: Iterator[Any] = Iterator(mode, output)
  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val names = output.map(_.name)
    require(names == RowKernel.schema.fieldNames.toSeq.filter(names.toSet),
      s"GraftParse output is not in column-table order: $names")
    val mask = RowKernel.maskFor(names)
    // binds each field nullable, a superset of the column table's nullability
    val types = output.map(_.dataType).toArray
    val (bc, withDropped, numOut) = (dicts, emitDropped, longMetric("numOutputRows"))
    child.execute().mapPartitionsInternal { it =>
      val proj = UnsafeProjection.create(types)
      RowKernel.process(it, bc.value, withDropped, mask).map { r => numOut += 1; proj(r) }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftParseExec =
    copy(child = newChild)
}

object GraftParse {
  /** EXPLAIN labels of what the one kernel call does for an output. Counts:
    * parse for cardinality only, no enrichment, no flatten
    * ([[RowKernel.countsOnly]]). Masked: the whole kernel, flattening only
    * the output's columns. Full: every column. */
  val Counts = "counts"
  val Masked = "masked"
  val Full = "full"

  def modeOf(output: Seq[Attribute], emitDropped: Boolean): String =
    if (RowKernel.countsOnly(output.map(_.name), emitDropped)) Counts
    else if (output.size == RowKernel.schema.length) Full
    else Masked

  /** The kernel over `input` (the six input columns), at full width until
    * the optimizer prunes it. The kernel reads `ts` as a UTC instant, so a
    * `TIMESTAMP_NTZ` input (what a naive DuckDB `TIMESTAMP` reads as) is
    * cast to `TIMESTAMP`, taking its wall-clock time in the session zone as
    * Spark's own `hour(ts)` does. Both types hold micros, so in a zone with
    * a constant zero offset the cast is the identity and is left out; for
    * a `TIMESTAMP` input it is a no-op. */
  def dataFrame(input: DataFrame, emitDropped: Boolean, dicts: Broadcast[Dicts]): DataFrame = {
    val in = if (input.schema("ts").dataType == TimestampNTZType && isUtc(input.sparkSession)) input
      else input.withColumn("ts", input("ts").cast(TimestampType))
    val ds = in.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      GraftParse(ds.logicalPlan, DataTypeUtils.toAttributes(RowKernel.schema), emitDropped, dicts))
  }

  /** Whether `spark`'s session zone has a constant zero offset. */
  private def isUtc(spark: SparkSession): Boolean = {
    val rules = DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone")).getRules
    rules.isFixedOffset && rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
  }

  /** `df`'s executed rows copied out of the exec's reused buffer and
    * persisted at the RDD layer, as a DataFrame with `df`'s schema. Each
    * cached row is one UnsafeRow (one byte array), and a read is a plain
    * field projection — no columnar cache builders over 332 columns. The
    * rows' plan gets a SQL execution of its own, so query listeners and the
    * UI see it; its last stage runs in the first job that reads the rows. */
  def persistedRows(df: DataFrame, level: StorageLevel): DataFrame = {
    val qe = df.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("persistedRows"))(qe.toRdd)
      .map(_.copy()).persist(level)
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, df.schema)
  }

  /** Release the RDD behind a [[persistedRows]] DataFrame. */
  def unpersistRows(df: DataFrame): Unit =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.unpersist(blocking = false) }

  /** Narrow the node's output to the columns the Project above it reads.
    * ColumnPruning puts such a Project under Generate/Aggregate, so this
    * also covers explode and count() (zero columns). It then removes the
    * Project between a Filter and the node, hence the second case. A node
    * left in counts mode also gets its input narrowed ([[countsInput]]);
    * this rule is the one place that decides whether a kernel keeps the
    * conv_id exchange under it. */
  object PruneColumns extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
      case p @ Project(_, g: GraftParse) if !g.outputSet.subsetOf(p.references) =>
        p.copy(child = narrow(g, p.references))
      case p @ Project(_, f @ Filter(_, g: GraftParse))
          if !g.outputSet.subsetOf(p.references ++ f.references) =>
        p.copy(child = f.copy(child = narrow(g, p.references ++ f.references)))
    }
    private def narrow(g: GraftParse, used: AttributeSet): GraftParse = {
      val n = g.copy(output = g.output.filter(used.contains))
      if (n.mode == Counts) n.copy(child = countsInput(n.child)) else n
    }
  }

  /** The input columns the counts kernel does not read. */
  private val unreadByCounts = Set("conv_id", "turn_idx")

  /** The counts kernel's input: `child` without the repartition directly
    * under the node, or under the `ts` cast of [[dataFrame]], and with
    * conv_id and turn_idx replaced by typed nulls, so a scan below reads
    * role, text, tool and ts only while the kernel keeps its input
    * ordinals. The counts kernel is a per-row function, so a repartition
    * under it co-locates nothing; the conv_id exchange serves the row modes
    * (Sink's chunk layout), which keep it. */
  private def countsInput(child: LogicalPlan): LogicalPlan = {
    val in = child match {
      case r: RepartitionByExpression => r.child
      case p @ Project(_, r: RepartitionByExpression) => p.copy(child = r.child)
      case other => other
    }
    def placeholder(e: NamedExpression): NamedExpression =
      if (unreadByCounts(e.name)) Alias(Literal(null, e.dataType), e.name)() else e
    in match {
      case p @ Project(list, _) => p.copy(projectList = list.map(placeholder))
      case other => Project(other.output.map(placeholder), other)
    }
  }

  object Planner extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case GraftParse(child, output, emitDropped, dicts) =>
        GraftParseExec(output, emitDropped, dicts, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Add the planner strategy and the pruning rule to `spark`, once. */
  def register(spark: SparkSession): Unit = {
    val x = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    x.synchronized {
      if (!x.extraStrategies.contains(Planner)) x.extraStrategies = Planner +: x.extraStrategies
      if (!x.extraOptimizations.contains(PruneColumns))
        x.extraOptimizations = x.extraOptimizations :+ PruneColumns
    }
  }
}

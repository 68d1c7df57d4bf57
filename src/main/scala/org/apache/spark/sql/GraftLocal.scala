package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.{ComputeCurrentTime, ReplaceExpressions}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** Frames whose rows sit on the DRIVER: a commit's blast radius, once
  * collected, feeds every output (carry, delta, change feed, deletion
  * vectors, ledger rows, file stats) through plain Filter / Project /
  * Union / global-aggregate plans over a `LocalRelation`. Spark would
  * plan each of them as a job (a union or an aggregate) or compile a
  * predicate class per statement (`ConvertToLocalRelation` folds a
  * Filter through a codegen'd predicate, with the statement's literals
  * inlined); [[rows]] evaluates such plans on the driver with Spark's own
  * INTERPRETED expressions instead — the same expressions, so the same
  * values, with no job and no compile. Any other plan shape (a scan, a
  * join, a sort, a subquery) answers None and runs through Spark. */
object GraftLocal {

  /** A frame over `rows` (a `LocalRelation` of `schema`). */
  def frame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    GraftShim.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `df`'s rows: driver-evaluated when [[rows]] can, else collected
    * through its physical plan (one job, or more for shuffles). */
  def collect(df: DataFrame): Seq[InternalRow] =
    rows(df).getOrElse(df.asInstanceOf[classic.Dataset[_]]
      .queryExecution.executedPlan.executeCollect().toSeq)

  /** `df` as a frame over its collected rows: every frame derived from it
    * by filters, projections and unions evaluates with no job. */
  def materialize(df: DataFrame): DataFrame =
    frame(df.sparkSession, df.schema, collect(df))

  /** True when [[rows]] evaluates `df` on the driver. */
  def isLocal(df: DataFrame): Boolean = prepared(df).exists(supported)

  /** `df`'s rows evaluated on the driver, or None when its plan is not
    * Filters, Projects, Unions, literal Limits and global aggregates over
    * `LocalRelation`s with evaluable expressions. */
  def rows(df: DataFrame): Option[Seq[InternalRow]] =
    prepared(df).filter(supported).map(eval)

  /** The analyzed plan with the optimizer's expression rewrites that
    * make it evaluable: `RuntimeReplaceable`s replaced, and
    * `current_timestamp()` and its kin fixed to one instant per plan
    * (every ledger row of a commit shares its `ingested_at`). */
  private def prepared(df: DataFrame): Option[LogicalPlan] = {
    val analyzed = df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
    if (!analyzed.resolved) None
    else Some(ReplaceExpressions(ComputeCurrentTime(
      EliminateSubqueryAliases(analyzed))))
  }

  private def evaluable(e: Expression): Boolean = !e.exists {
    case _: Attribute => false
    case _: AggregateExpression => true
    case _: SubqueryExpression | _: Generator => true
    case x => x.isInstanceOf[Unevaluable]
  }

  private def aggregable(ae: AggregateExpression): Boolean =
    ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty &&
      (ae.aggregateFunction match {
        case _: DeclarativeAggregate | _: ImperativeAggregate => true
        case _ => false
      }) && ae.aggregateFunction.children.forall(evaluable)

  private def supported(p: LogicalPlan): Boolean = p match {
    case _: LocalRelation => true
    case Project(list, child) => list.forall(evaluable) && supported(child)
    case Filter(cond, child) => evaluable(cond) && supported(child)
    case u: Union => u.children.forall(supported)
    case GlobalLimit(IntegerLiteral(_), child) => supported(child)
    case LocalLimit(IntegerLiteral(_), child) => supported(child)
    case a: Aggregate if a.groupingExpressions.isEmpty =>
      supported(a.child) && a.aggregateExpressions.forall { e =>
        val aggs = e.collect { case ae: AggregateExpression => ae }
        aggs.forall(aggregable) && evaluable(e.transform {
          case ae: AggregateExpression => Literal(null, ae.dataType)
        })
      }
    case _ => false
  }

  private def project(list: Seq[Expression], input: Seq[Attribute],
      rows: Seq[InternalRow]): Seq[InternalRow] = {
    val p = new InterpretedMutableProjection(list, input)
    p.initialize(0)
    rows.map(r => p(r).copy())
  }

  private def eval(p: LogicalPlan): Seq[InternalRow] = p match {
    case l: LocalRelation => l.data
    case Project(list, child) => project(list, child.output, eval(child))
    case Filter(cond, child) =>
      val pred = Predicate.createInterpreted(
        BindReferences.bindReference(cond, child.output))
      pred.initialize(0)
      eval(child).filter(pred.eval)
    case u: Union => u.children.flatMap(eval)
    case GlobalLimit(IntegerLiteral(n), child) => eval(child).take(n)
    case LocalLimit(IntegerLiteral(n), child) => eval(child).take(n)
    case a: Aggregate =>
      val in = eval(a.child)
      val values: Map[ExprId, Any] = a.aggregateExpressions
        .flatMap(_.collect { case ae: AggregateExpression => ae })
        .map(ae => ae.resultId -> aggregate(ae, a.child.output, in)).toMap
      project(a.aggregateExpressions.map(_.transform {
        case ae: AggregateExpression => Literal(values(ae.resultId), ae.dataType)
      }), Nil, Seq(InternalRow.empty))
  }

  /** One aggregate function over `rows`, the way a single-partition
    * Complete-mode aggregation runs it: initialize, update per row,
    * evaluate. */
  private def aggregate(ae: AggregateExpression, input: Seq[Attribute],
      rows: Seq[InternalRow]): Any = ae.aggregateFunction match {
    case d: DeclarativeAggregate =>
      val bufAttrs = d.aggBufferAttributes
      val init = new InterpretedMutableProjection(d.initialValues, Nil)
      var buf = init(InternalRow.empty).copy()
      val update = new InterpretedMutableProjection(d.updateExpressions,
        bufAttrs ++ input)
      update.initialize(0)
      rows.foreach(r => buf = update(new JoinedRow(buf, r)).copy())
      BindReferences.bindReference(d.evaluateExpression, bufAttrs).eval(buf)
    case i: ImperativeAggregate =>
      val f = BindReferences.bindReference(i, input)
        .withNewMutableAggBufferOffset(0).withNewInputAggBufferOffset(0)
      val buf = new GenericInternalRow(f.aggBufferAttributes.length)
      f.initialize(buf)
      rows.foreach(f.update(buf, _))
      f.eval(buf)
  }
}

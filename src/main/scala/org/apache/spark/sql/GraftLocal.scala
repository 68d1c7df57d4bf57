package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Complete, DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.{ComputeCurrentTime, ReplaceExpressions}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types._

/** Frames whose rows sit on the DRIVER: a commit's blast radius, once
  * collected, feeds every output (carry, delta, change feed, deletion
  * vectors, ledger rows, file stats) through plain Filter / Project /
  * Union / aggregate plans over a `LocalRelation`, and a maintained
  * state's change batch, once collected, folds through grouped
  * aggregates, explodes and sorts. Spark would plan each of them as a job
  * (a union, an aggregate, a sort) or compile a predicate class per
  * statement (`ConvertToLocalRelation` folds a Filter through a
  * codegen'd predicate, with the statement's literals inlined); [[rows]]
  * evaluates such plans on the driver with Spark's own INTERPRETED
  * expressions instead — the same expressions, so the same values, with
  * no job and no compile. Any other plan shape (a scan, a join, a
  * subquery, a group-by on a key that needs float normalization or is
  * complex) answers None and runs through Spark. */
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
  def isLocal(df: DataFrame): Boolean = supports(analyzed(df))

  /** `df`'s rows evaluated on the driver, or None when its plan is not
    * Filters, Projects, Unions, literal Limits, aggregates (global, or
    * grouped on [[groupable]] keys), Generates and Sorts over
    * `LocalRelation`s with evaluable expressions. */
  def rows(df: DataFrame): Option[Seq[InternalRow]] = planRows(analyzed(df))

  /** [[rows]] of a resolved plan, analyzed or optimized, with no Dataset
    * built around it: analyzing a Dataset over a `LocalRelation` walks
    * every held row, so a caller that substitutes rows into a plan
    * evaluates the plan itself. */
  def planRows(plan: LogicalPlan): Option[Seq[InternalRow]] =
    prepared(plan).filter(supported).map(eval)

  /** True when [[planRows]] evaluates `plan`: decided on its shape and
    * expressions alone, so a plan over placeholder (empty) relations
    * answers for the same plan over any rows. */
  def supports(plan: LogicalPlan): Boolean = prepared(plan).exists(supported)

  private def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** The plan with the optimizer's expression rewrites that make it
    * evaluable: `RuntimeReplaceable`s replaced, and
    * `current_timestamp()` and its kin fixed to one instant per plan
    * (every ledger row of a commit shares its `ingested_at`). */
  private def prepared(plan: LogicalPlan): Option[LogicalPlan] =
    if (!plan.resolved) None
    else Some(ReplaceExpressions(ComputeCurrentTime(
      EliminateSubqueryAliases(plan))))

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

  /** Key types whose values group by plain equality, as Spark's hash
    * aggregate groups their binary form: no float normalization (NaN,
    * -0.0), no complex values, no collation. */
  private def groupable(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType
       | DateType | TimestampType | TimestampNTZType | _: DecimalType => true
    case s: StringType => s.supportsBinaryEquality
    case _ => false
  }

  private def supported(p: LogicalPlan): Boolean = p match {
    case _: LocalRelation => true
    case Project(list, child) => list.forall(evaluable) && supported(child)
    case Filter(cond, child) => evaluable(cond) && supported(child)
    case u: Union => u.children.forall(supported)
    case GlobalLimit(IntegerLiteral(_), child) => supported(child)
    case LocalLimit(IntegerLiteral(_), child) => supported(child)
    case s: Sort => s.order.forall(o => evaluable(o.child)) && supported(s.child)
    case g: Generate => !g.generator.isInstanceOf[Unevaluable] &&
      g.generator.children.forall(evaluable) && supported(g.child)
    case a: Aggregate =>
      supported(a.child) && a.groupingExpressions.forall(e =>
        evaluable(e) && groupable(e.dataType)) &&
        a.aggregateExpressions.forall { e =>
          e.collect { case ae: AggregateExpression => ae }.forall(aggregable)
        } && resultList(a).forall(e =>
          evaluable(e) && !e.exists(_.isInstanceOf[Attribute]))
    case _ => false
  }

  /** An aggregate's output expressions over one result row of
    * (grouping values ++ aggregate values): each aggregate, and each
    * subexpression equal to a grouping expression, becomes a reference
    * into that row, as Spark's planner binds them. */
  private def resultList(a: Aggregate): Seq[Expression] = {
    val keys = a.groupingExpressions.map(_.canonicalized).zipWithIndex.toMap
    val aggs = aggregatesOf(a).map(_.resultId).zipWithIndex.toMap
    a.aggregateExpressions.map(_.transformDown {
      case ae: AggregateExpression =>
        BoundReference(keys.size + aggs(ae.resultId), ae.dataType, true)
      case e if keys.contains(e.canonicalized) =>
        BoundReference(keys(e.canonicalized), e.dataType, true)
    })
  }

  private def aggregatesOf(a: Aggregate): Seq[AggregateExpression] =
    a.aggregateExpressions
      .flatMap(_.collect { case ae: AggregateExpression => ae })
      .distinctBy(_.resultId)

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
    case s: Sort => eval(s.child).sorted(new InterpretedOrdering(s.order,
      s.child.output))
    case g: Generate =>
      val gen = BindReferences.bindReference(g.generator: Expression,
        g.child.output)
      gen.foreach { case n: Nondeterministic => n.initialize(0); case _ => }
      val kept = new InterpretedMutableProjection(g.requiredChildOutput,
        g.child.output)
      val none = Seq(new GenericInternalRow(g.generatorOutput.length))
      eval(g.child).flatMap { r =>
        val base = kept(r).copy()
        val out = gen.asInstanceOf[Generator].eval(r).iterator.toSeq
        (if (g.outer && out.isEmpty) none else out)
          .map(o => new JoinedRow(base, o).copy())
      }
    case a: Aggregate =>
      val folds = aggregatesOf(a).map(ae =>
        new Fold(ae.aggregateFunction, a.child.output))
      val key = new InterpretedMutableProjection(a.groupingExpressions,
        a.child.output)
      val types = a.groupingExpressions.map(_.dataType)
      // first-seen group order; a global aggregate has its one group
      // even over no rows
      val groups = scala.collection.mutable.LinkedHashMap.empty[
        Seq[Any], Array[InternalRow]]
      if (types.isEmpty) groups(Nil) = folds.map(_.init()).toArray
      eval(a.child).foreach { r =>
        val bufs = groups.getOrElseUpdate(key(r).toSeq(types),
          folds.map(_.init()).toArray)
        folds.indices.foreach(i => bufs(i) = folds(i).update(bufs(i), r))
      }
      project(resultList(a), Nil, groups.iterator.map { case (k, bufs) =>
        InternalRow.fromSeq(k ++ folds.indices.map(i =>
          folds(i).result(bufs(i))))
      }.toSeq)
  }

  /** One aggregate function, the way a single-partition Complete-mode
    * aggregation runs it: a buffer per group, initialized, updated per
    * row, evaluated. */
  private final class Fold(f: AggregateFunction, input: Seq[Attribute]) {
    private val (initP, updateP, evalE, imp) = f match {
      case d: DeclarativeAggregate =>
        val u = new InterpretedMutableProjection(d.updateExpressions,
          d.aggBufferAttributes ++ input)
        u.initialize(0)
        (new InterpretedMutableProjection(d.initialValues, Nil), u,
          BindReferences.bindReference(d.evaluateExpression,
            d.aggBufferAttributes), null)
      case i: ImperativeAggregate =>
        (null, null, null, BindReferences.bindReference(i, input)
          .withNewMutableAggBufferOffset(0).withNewInputAggBufferOffset(0))
    }

    def init(): InternalRow =
      if (imp == null) initP(InternalRow.empty).copy()
      else {
        val buf = new GenericInternalRow(imp.aggBufferAttributes.length)
        imp.initialize(buf)
        buf
      }

    def update(buf: InternalRow, r: InternalRow): InternalRow =
      if (imp == null) updateP(new JoinedRow(buf, r)).copy()
      else { imp.update(buf, r); buf }

    def result(buf: InternalRow): Any =
      if (imp == null) evalE.eval(buf) else imp.eval(buf)
  }
}

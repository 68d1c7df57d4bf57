package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, GraftLocal, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BindReferences, Expression, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetShim, ParquetFileFormat}
import org.apache.spark.sql.types.StructType

/** DRIVER READ: a GraftSql query evaluated on the driver, with no Spark
  * job, when its input is small — the read counterpart of the candidate
  * read a row-level commit makes (`RowCommit.driveScan` in [[Lake]]).
  * Two things must hold of the query's optimized plan:
  *  - every leaf is a `LocalRelation` (a metadata table, the
  *    `table_changes` of a table with no change feed) or a relation over
  *    a [[LedgerFileIndex.plain]] index, and the CANDIDATE files of those
  *    relations — the files whose ledger stats admit the filters Spark
  *    pushes into each scan — fit [[Lake.DriverWriteMaxBytes]] together;
  *  - [[GraftLocal]] evaluates the plan once each such relation is a
  *    `LocalRelation` over its data attributes. That is decided on empty
  *    placeholders before a file is read, so a join, a window or a
  *    subquery costs no read; a nondeterministic expression or a
  *    `_metadata` column keeps the plan relational too.
  * Each relation's candidates are then read on the driver in scan order
  * ([[Lake.scanOrder]]), keeping the rows its pushed filters accept, and
  * the plan with those rows substituted is evaluated as a plan: the only
  * Dataset built is the one over the result. A deletion-vector table's
  * scan sits under the vector anti-join and a rename/widen epoch's scans
  * are not plain, so both stay relational, as does a plan above the
  * bound. Every query counts `read.driver` or `read.relational` in
  * [[Lake.writePaths]].
  *
  * The rows are the relational plan's: a plain relation reads exactly
  * its index's files (a bound view's index is the snapshot it pinned)
  * under the relation's schema, and GraftLocal evaluates Spark's own
  * expressions. A float aggregate may differ in its last bits, as the
  * driver folds rows in file order. Evaluation is eager: a query that
  * fails on the driver is returned relational, to fail where it did. */
private[sources] object DriverRead {

  /** `df`, a routed query, as a frame over its rows evaluated on the
    * driver when it can be, else `df` itself. */
  def apply(spark: SparkSession, df: DataFrame): DataFrame =
    (try rows(spark, GraftShim.optimizedPlan(df))
     catch { case NonFatal(_) => None }) match {
      case Some(out) =>
        Lake.countWrite("read.driver")
        GraftLocal.frame(spark, df.schema, out)
      case None =>
        Lake.countWrite("read.relational")
        df
    }

  /** A relation over a plain ledger index: the index, the relation's
    * data schema and its data attributes (its output minus any
    * `_metadata` column). Compared by identity (`eq`): a plan may hold
    * equal relations with different filters above them. */
  private final case class Scan(leaf: LogicalRelation, index: LedgerFileIndex,
      schema: StructType, attrs: Seq[Attribute])

  private def scanOf(l: LogicalRelation): Option[Scan] = l.relation match {
    case fs: HadoopFsRelation if fs.partitionSchema.isEmpty &&
        fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
      fs.location match {
        case idx: LedgerFileIndex if idx.plain => Some(Scan(l, idx,
          fs.dataSchema, l.output.take(fs.dataSchema.length)))
        case _ => None
      }
    case _ => None
  }

  private def rows(spark: SparkSession,
      plan: LogicalPlan): Option[Seq[InternalRow]] = {
    // a bound of 0 holds no read, not even one of no file
    if (Lake.DriverWriteMaxBytes <= 0) return None
    val scans = plan.collectLeaves()
      .collect { case l: LogicalRelation => l }.flatMap(scanOf)
    def substituted(rowsOf: Scan => Seq[InternalRow]) = plan.transformUp {
      case l: LogicalRelation if scans.exists(_.leaf eq l) =>
        val s = scans.find(_.leaf eq l).get
        LocalRelation(s.attrs, rowsOf(s))
    }
    val shape = substituted(_ => Nil)
    if (!GraftLocal.supports(shape) || shape.exists(n =>
        n.missingInput.nonEmpty || n.expressions.exists(!_.deterministic)))
      return None
    val pushed = GraftShim.scanFilters(plan)
    val filters = scans.map(s =>
      pushed.collectFirst { case (l, fs) if l eq s.leaf => fs }.getOrElse(Nil))
    val files = scans.lazyZip(filters).map((s, f) =>
      s.index.listFiles(Nil, f).flatMap(_.files.map(_.fileStatus)))
    if (files.iterator.flatten.map(_.getLen).sum > Lake.DriverWriteMaxBytes)
      return None
    val read = scans.lazyZip(filters).lazyZip(files).map(scanRows(spark, _, _, _))
    GraftLocal.planRows(substituted(s => read(scans.indexWhere(_ eq s))))
  }

  /** The rows of `files` under the scan's data schema, in scan order,
    * that its pushed `filters` accept — tested before each row is
    * copied, so a point read holds its matches, not its files. */
  private def scanRows(spark: SparkSession, scan: Scan,
      filters: Seq[Expression], files: Seq[FileStatus]): Seq[InternalRow] = {
    val keep = filters.reduceOption(And).map { f =>
      val p = Predicate.createInterpreted(
        BindReferences.bindReference(f, scan.attrs))
      p.initialize(0)
      p.eval _
    }.getOrElse((_: InternalRow) => true)
    GraftParquetShim.readRows(spark,
      Lake.scanOrder(files).map(f => f.getPath.toString -> f.getLen),
      scan.schema, keep).flatten
  }
}

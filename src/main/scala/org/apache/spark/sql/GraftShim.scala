package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column↔Expression converters, the
  * standard pattern for libraries that ship native Catalyst expressions
  * (cf. public extension projects like Qbeast's DatasetFactory shim).
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Parse a SQL expression string (syntax check without evaluation). */
  def parseExpression(spark: SparkSession, sql: String): Expression =
    spark.sessionState.sqlParser.parseExpression(sql)

  /** `schema` with every field (nested ones too) nullable — the schema a
    * parquet read of a file written with `schema` reports. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Build a parquet scan over a custom `FileIndex` (manifest-driven scan:
    * the file list comes from a table's own metadata, never a filesystem
    * walk) — the `HadoopFsRelation`/`LogicalRelation` constructors are
    * `private[sql]`-adjacent internals, hence this shim. Schema is inferred
    * from the indexed files' footers, as the parquet format infers it. */
  def parquetScan(spark: SparkSession,
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      mergeSchemas: Boolean = false,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val cs = spark.asInstanceOf[classic.SparkSession]
    val fmt = new ParquetFileFormat
    // dataSchema given (schema-in-manifest): ZERO footer reads at plan
    // time — the parquet reader reconciles each file against the declared
    // schema at execution (missing columns surface as null, the standard
    // evolution read). Otherwise infer from footers:
    // mergeSchemas unions the per-file footers (schema-EVOLVED tables:
    // files written before a column existed must surface it as null) —
    // costs a footer pass per file at plan time, so callers only set it
    // for tables marked as evolved. Without merging, inference reads ONE
    // footer — the first file by path, as Spark's inference picks it —
    // and reads it here on the driver: Spark's inference runs a job
    lazy val statuses = index.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
    def none = throw new IllegalStateException(
      s"cannot infer schema from ${statuses.size} indexed parquet file(s)")
    val schema = dataSchema.getOrElse(
      if (mergeSchemas)
        fmt.inferSchema(cs, Map("mergeSchema" -> "true"), statuses)
          .getOrElse(none)
      else statuses.minByOption(_.getPath.toString).map(
          org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
            .footerSchema(spark, _)).getOrElse(none))
    val rel = HadoopFsRelation(index, partitionSchema = index.partitionSchema,
      dataSchema = schema, bucketSpec = None, fileFormat = fmt,
      options = Map.empty)(cs)
    ofRows(spark, LogicalRelation(rel))
  }

  /** The data filters Spark pushes into the scan of `df`'s one
    * file-source relation — what its `FileIndex.listFiles` prunes by
    * (FileSourceStrategy's split: the deterministic conjuncts without a
    * subquery, names normalized to the relation's output); none when `df`
    * is not projections and filters over one file relation. */
  def pushedFilters(df: DataFrame)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.planning.PhysicalOperation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    optimizedPlan(df) match {
      case p @ PhysicalOperation(_, _, _: LogicalRelation) =>
        scanFilters(p).headOption.map(_._2).getOrElse(Nil)
      case _ => Nil
    }
  }

  /** `df`'s optimized plan (Spark's, cached in its query execution). */
  def optimizedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.optimizedPlan

  /** Each file-source relation of the optimized `plan` with the data
    * filters Spark pushes into its scan (the [[pushedFilters]] split,
    * taken at the highest projections-and-filters chain over it), in
    * plan order. */
  def scanFilters(plan: LogicalPlan): Seq[(
      org.apache.spark.sql.execution.datasources.LogicalRelation,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression])] = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.planning.PhysicalOperation
    import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, HadoopFsRelation, LogicalRelation}
    val out = scala.collection.mutable.ArrayBuffer.empty[
      (LogicalRelation, Seq[org.apache.spark.sql.catalyst.expressions.Expression])]
    // pre-order: a relation's first match is its highest chain
    plan.foreach {
      case PhysicalOperation(_, filters, l: LogicalRelation)
          if l.relation.isInstanceOf[HadoopFsRelation] &&
            !out.exists(_._1 eq l) =>
        out += l -> DataSourceStrategy.normalizeExprs(filters.filter(f =>
          f.deterministic && !SubqueryExpression.hasSubquery(f)), l.output)
      case _ =>
    }
    out.toSeq
  }

  /** Block until the async listener bus has delivered all queued events —
    * needed before reading job counts off a SparkListener in tests
    * (`listenerBus` is `private[spark]`, hence this shim). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

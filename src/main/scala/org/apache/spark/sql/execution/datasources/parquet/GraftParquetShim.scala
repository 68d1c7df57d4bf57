package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftLocal, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Driver-side SINGLE-FILE parquet writer for KB-scale metadata commits
  * (ledger rows). A metadata commit's rows are bounded by the operation's
  * blast radius (affected files + removes), yet the Spark write path costs
  * a localCheckpoint job + a FileFormatWriter job + the output-committer
  * temp-dir/rename protocol PER COMMIT — profiled as a fixed ~0.3-0.5 s of
  * every DML statement's driver gap. Writing the collected rows through
  * Spark's own [[ParquetWriteSupport]] produces a file the normal read
  * path consumes identically (same row schema metadata, same type
  * mappings), at ~ms cost. This is the Iceberg/Delta design: manifests
  * are driver-written, only data files go through the cluster.
  *
  * The shim lives in this package because [[ParquetWriteSupport]] is
  * `private[parquet]` in some Spark lines. */
object GraftParquetShim {

  /** Collect `df` (caller guarantees bounded rows; a frame over rows
    * already on the driver collects with no job, see [[GraftLocal]]) and
    * write ONE parquet file at `outPath` with the session's parquet
    * write configuration. Returns the row count. The write is NOT
    * atomic — callers rename the finished file into its visible name. */
  def writeSingleFile(spark: SparkSession, df: DataFrame,
      outPath: String): Long =
    writeRows(spark, df.schema, GraftLocal.collect(df), outPath)

  /** [[writeSingleFile]] of rows already in hand. */
  def writeRows(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow], outPath: String): Long = {
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    ParquetWriteSupport.setSchema(schema, conf)
    // mirror ParquetFileFormat.prepareWrite's session-derived settings so
    // the produced file is indistinguishable from a cluster-written one
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled.toString)
    val codec =
      try CompressionCodecName.valueOf(
        sqlConf.parquetCompressionCodec.toUpperCase(java.util.Locale.ROOT))
      catch { case _: IllegalArgumentException =>
        CompressionCodecName.SNAPPY }
    val writer = new ParquetWriter[InternalRow](
      new Path(outPath), new ParquetWriteSupport(), codec,
      ParquetWriter.DEFAULT_BLOCK_SIZE, ParquetWriter.DEFAULT_PAGE_SIZE,
      ParquetWriter.DEFAULT_PAGE_SIZE,
      ParquetWriter.DEFAULT_IS_DICTIONARY_ENABLED,
      ParquetWriter.DEFAULT_IS_VALIDATING_ENABLED,
      ParquetWriter.DEFAULT_WRITER_VERSION, conf)
    try rows.foreach(writer.write)
    finally writer.close()
    rows.length.toLong
  }

  /** The inverse of [[writeSingleFile]]: read whole parquet files on the
    * driver, no Spark job, through the same reader a scan task runs
    * (`ParquetFileFormat.buildReaderWithPartitionValues`). `schema` is
    * the requested schema, so a file written with a narrower one
    * null-fills the missing fields by name, exactly as a scan with that
    * schema does. `files` are (path, length) as listed; returns each
    * file's rows as external [[Row]]s, in file order. */
  def readFiles(spark: SparkSession, files: Seq[(String, Long)],
      schema: StructType): Seq[Seq[Row]] =
    if (files.isEmpty) Nil
    else {
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, schema, StructType(Nil), schema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
      // the reader reuses its row objects: convert each before the next
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      files.map { case (path, len) =>
        read(PartitionedFile(InternalRow.empty,
            SparkPath.fromPath(new Path(path)), 0L, len, Array.empty[String],
            0L, len, Map.empty))
          .map(r => toRow(r).asInstanceOf[Row]).toVector
      }
    }

  /** The schema Spark's parquet inference takes from one file — its
    * footer's Spark schema, else its parquet schema converted under the
    * session's settings — read on the driver: no Spark job (inference
    * over a file list runs one). */
  def footerSchema(spark: SparkSession, file: FileStatus): StructType =
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
        ParquetMetadataConverter.NO_FILTER)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
}

package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.input.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetRecordReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftLocal, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormat, PartitionedFile}
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

  /** [[writeSingleFile]] of rows already in hand. The file is created
    * with plain java.nio ([[LocalOutputFile]]): no permission is set and
    * no `.crc` checksum sidecar is written. */
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
    val writer = new RowsWriter(new LocalOutputFile(outPath))
      .withConf(conf).withCompressionCodec(codec).build()
    try rows.foreach(writer.write)
    finally writer.close()
    rows.length.toLong
  }

  /** The inverse of [[writeSingleFile]]: read whole parquet files on the
    * driver, no Spark job. `schema` is the requested schema, so a file
    * written with a narrower one null-fills the missing fields by name,
    * exactly as a scan with that schema does. `files` are (path, length)
    * as listed; returns each file's rows as external [[Row]]s, in file
    * order. */
  def readFiles(spark: SparkSession, files: Seq[(String, Long)],
      schema: StructType): Seq[Seq[Row]] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    readRows(spark, files, schema).map(_.map(r => toRow(r).asInstanceOf[Row]))
  }

  /** [[readFiles]] as catalyst rows (copies: safe to hold): each file's
    * rows in file order, so a row's index in its file's sequence is its
    * `_metadata.row_index`. The reader is the one a scan task runs for a
    * row-based read (`ParquetRecordReader` over [[ParquetReadSupport]],
    * under the session's parquet settings and each footer's rebase
    * mode), built here on the driver: `ParquetFileFormat`'s reader
    * factory broadcasts the whole Hadoop configuration on every call. */
  def readRows(spark: SparkSession, files: Seq[(String, Long)],
      schema: StructType): Seq[Seq[InternalRow]] =
    if (files.isEmpty) Nil
    else {
      val sqlConf = spark.sessionState.conf
      val conf = readConf(spark, schema)
      files.map { case (path, len) => readOne(conf, sqlConf, path, len) }
    }

  /** The session's Hadoop configuration with the settings
    * `ParquetFileFormat` gives its readers for `schema`. */
  private def readConf(spark: SparkSession, schema: StructType): Configuration = {
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    conf
  }

  private def readOne(conf: Configuration, sqlConf: SQLConf, path: String,
      len: Long): Vector[InternalRow] = {
    val p = new Path(path)
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(p, conf),
      ParquetMetadataConverter.NO_FILTER).getFileMetaData
    val kv = meta.getKeyValueMetaData
    val convertTz =
      if (sqlConf.isParquetINT96TimestampConversion &&
          !meta.getCreatedBy.startsWith("parquet-mr"))
        Some(DateTimeUtils.getZoneId(sqlConf.sessionLocalTimeZone))
      else None
    val reader = new ParquetRecordReader[InternalRow](new ParquetReadSupport(
      convertTz, enableVectorizedReader = false,
      DataSourceUtils.datetimeRebaseSpec(kv.get,
        sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString),
      DataSourceUtils.int96RebaseSpec(kv.get,
        sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ).toString)))
    try {
      reader.initialize(new FileSplit(p, 0L, len, Array.empty[String]),
        new TaskAttemptContextImpl(conf,
          new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0)))
      val out = Vector.newBuilder[InternalRow]
      while (reader.nextKeyValue()) out += reader.getCurrentValue.copy()
      out.result()
    } finally reader.close()
  }

  /** The `_metadata.file_path` a scan reports for the file at `path` (a
    * ledger path, as its index lists it). */
  def filePathOf(path: String): String =
    FileFormat.BASE_METADATA_EXTRACTORS(FileFormat.FILE_PATH)(
      PartitionedFile(InternalRow.empty, SparkPath.fromPath(new Path(path)),
        0L, 0L, Array.empty[String])).toString

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

  /** [[writeRows]]' builder: Spark's [[ParquetWriteSupport]] over an
    * [[OutputFile]]. */
  private final class RowsWriter(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowsWriter](file) {
    override def self(): RowsWriter = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** A new local file, created with plain java.nio: Hadoop's local
    * filesystem would set its permission (a forked `chmod` per file when
    * no native library is loaded) and write a `.crc` checksum sidecar
    * beside it. Parent dirs are created as needed. */
  private final class LocalOutputFile(path: String) extends OutputFile {
    private val file = java.nio.file.Paths.get(path)
    override def create(blockSizeHint: Long): PositionOutputStream =
      open(java.nio.file.StandardOpenOption.CREATE_NEW)
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream =
      open(java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    private def open(opts: java.nio.file.OpenOption*): PositionOutputStream = {
      Option(file.getParent).foreach(java.nio.file.Files.createDirectories(_))
      val out = new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(file, opts: _*), 1 << 16)
      new PositionOutputStream {
        private var pos = 0L
        override def getPos: Long = pos
        override def write(b: Int): Unit = { out.write(b); pos += 1 }
        override def write(b: Array[Byte], off: Int, n: Int): Unit = {
          out.write(b, off, n); pos += n
        }
        override def flush(): Unit = out.flush()
        override def close(): Unit = out.close()
      }
    }
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = 0L
    override def getPath: String = path
  }
}

package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructType}

/** Bridge to the private[sql] file-scan internals the commit log's
  * snapshot file index needs: filter translation, the nullable shape
  * of a file-source schema, and a DRIVER-LOCAL read of one small
  * parquet file — the commit log's kilobyte-scale manifest, where a
  * `spark.read` would cost a footer-inference job plus a collect job
  * for a few hundred rows (the same reader function the file scan runs
  * inside tasks, called in-process: no Spark job). Lives under
  * org.apache.spark.sql.* for access; keep it this thin. */
object ScanBridge {

  /** The Spark schema Spark's own writer stamps into every footer. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The columns of `file` whose names `keep` accepts, as external rows
    * read on the calling thread, with their schema (file order). */
  def readLocal(spark: SparkSession, file: FileStatus,
      keep: String => Boolean): (StructType, Iterator[Row]) = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = cs.sessionState.newHadoopConf()
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData
    val fileSchema = Option(meta.getKeyValueMetaData.get(SparkSchemaKey))
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(conf)
        .convert(meta.getSchema))
    val required = StructType(fileSchema.fields.filter(f => keep(f.name)))
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      cs, fileSchema, new StructType(), required, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    val toRow = CatalystTypeConverters.createToScalaConverter(required)
    val rows = read(PartitionedFile(InternalRow.empty,
      SparkPath.fromPath(file.getPath), 0L, file.getLen,
      modificationTime = file.getModificationTime, fileSize = file.getLen))
    (required, rows.map(r => toRow(r).asInstanceOf[Row]))
  }

  /** A Catalyst predicate as a data-source filter over top-level
    * columns, when it has one. */
  def translateFilter(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e,
      supportNestedPredicatePushdown = false)

  /** `t` with every field, nested ones included, nullable — the shape a
    * file-source relation reports (files cannot promise non-null). */
  def asNullable(t: StructType): StructType = t.asNullable
}

package org.apache.spark.sql.graft

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Spark's own parquet reader driven from the driver, with no Spark job:
  * the read-side mirror of the `prepareWrite` writer that
  * `graft.operators.SignatureIndex.writeComponent` drives. For inputs
  * the caller has already bounded by bytes.
  */
object DriverParquet {

  /** The data schema `spark.read.parquet(files)` reads: the first file's
    * footer schema (Spark's row metadata where the file carries it),
    * every field nullable. Reads one footer. */
  def schemaOf(spark: SparkSession, files: Seq[FileStatus]): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val first = files.head
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
  }

  /** Every row of `files`, in file order, as `UnsafeRow` copies in
    * `schema`. Reading stops, and the call returns None, once the copied
    * rows' bytes pass `maxBytes`. */
  def read(
      spark: SparkSession, files: Seq[FileStatus], schema: StructType,
      maxBytes: Long): Option[Array[UnsafeRow]] = {
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf())
    val toUnsafe = UnsafeProjection.create(schema)
    val rows = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
    var bytes = 0L
    val it = files.iterator
    while (bytes <= maxBytes && it.hasNext) {
      val f = it.next()
      val in = reader(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(f), 0L,
        f.getLen, modificationTime = f.getModificationTime, fileSize = f.getLen))
      try while (bytes <= maxBytes && in.hasNext) {
        val row = toUnsafe(in.next()).copy()
        bytes += row.getSizeInBytes
        rows += row
      } finally in match { case c: java.io.Closeable => c.close(); case _ => () }
    }
    if (bytes > maxBytes) None else Some(rows.toArray)
  }
}

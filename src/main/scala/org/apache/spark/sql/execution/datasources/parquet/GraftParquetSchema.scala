package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Parquet schema inference without its Spark job. Lives in Spark's
  * parquet package because `ParquetFileFormat.readSchema`, the decoder
  * inference itself uses, is private to it — the same bridging
  * technique as [[org.apache.spark.sql.GraftShim]].
  */
object GraftParquetSchema {

  /** The schema Spark's parquet inference gives `path` (a file, or a
    * directory of them) when schemas are not merged, read on the
    * driver instead of in Spark's one-task inference job. It reads the
    * footer inference would pick — the file itself; for a directory
    * its `_common_metadata`, else its `_metadata`, else its first data
    * file in sorted path order, listed recursively with the file
    * index's hidden-file rule — and decodes it with `readSchema` under
    * the session's conf, so `binaryAsString`, `inferTimestampNTZ` and
    * `nanosAsLong` apply as they do to inference. Partition columns are
    * not part of it: a read pinned with `.schema(...)` still infers
    * them from directory names. None when the path holds no file, so
    * Spark's own read raises its usual error.
    */
  def of(spark: SparkSession, path: String): Option[StructType] = {
    val conf = GraftShim.hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
        .flatMap(leaves)
    val files =
      (try leaves(fs.getFileStatus(root))
       catch { case _: java.io.FileNotFoundException => Nil })
        .sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .flatMap { st =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchema(Seq(new Footer(st.getPath, footer)), spark)
      }
  }
}

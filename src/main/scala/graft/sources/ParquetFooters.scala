package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter.MetadataFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType

/** Parquet metadata read on the driver from the files' footers, with no
  * Spark job: the source check of [[FanOut.planTables]] (each data
  * file's schema) and the sinks' read-back (each data file's row count).
  */
private[sources] object ParquetFooters {

  /** The data files under `path` in a depth-first walk in name order,
    * skipping hidden and `_`-prefixed names at every level (`_SUCCESS`,
    * `.crc` checksums), as Spark's listing does; `path` itself when it
    * is a file, and none when it is missing. */
  def dataFiles(fs: FileSystem, path: Path): Seq[FileStatus] = {
    def visible(s: FileStatus) = !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")
    def walk(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).filter(visible).sortBy(_.getPath.toString).toSeq.flatMap(walk)
    Try(fs.getFileStatus(path)).toOption.toSeq.flatMap(walk)
  }

  /** A data file's footer, parsed as far as `filter` asks; a file that
    * is not whole parquet (truncated, say) throws. */
  private def footer(conf: Configuration, file: FileStatus,
      filter: MetadataFilter): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf).withMetadataFilter(filter).build())
    try reader.getFooter finally reader.close()
  }

  /** A data file's schema, its row groups' metadata not parsed. */
  def schema(conf: Configuration, file: FileStatus): MessageType =
    footer(conf, file, ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData.getSchema

  /** Rows stored under `path`: the sum of every data file's row-group
    * counts, 0 when the path is missing. */
  def rowCount(conf: Configuration, path: String): Long = {
    val p = new Path(path)
    dataFiles(p.getFileSystem(conf), p)
      .map(footer(conf, _, ParquetMetadataConverter.NO_FILTER).getBlocks.asScala
        .map(_.getRowCount).sum).sum
  }
}

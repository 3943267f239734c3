package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one parquet read path.
  *
  * `spark.read.parquet(path)` infers the schema through
  * `SchemaMergeUtils.mergeSchemasInParallel`, which runs a Spark job to
  * read one file's footer: tens of milliseconds of job and scheduling gap
  * per read, paid at every table load and every staging or snapshot
  * read-back. [[read]] reads that footer on the driver instead and hands
  * the schema to the reader, so building the DataFrame runs no job.
  *
  * [[schema]] converts the footer exactly as inference does
  * (`ParquetFileFormat.readSchemaFromFooter`): Spark's stored row schema
  * when the file has one, else the Parquet schema under the session's
  * conf, including `spark.sql.legacy.parquet.nanosAsLong`. A directory
  * takes its first data file, skipping the names Spark's file index
  * hides (`_*` other than partition directories, and `.*`), as inference
  * does when no summary file exists. Partition columns are not in the
  * footer, so the reader infers them from the directory names and puts
  * them last, as under inference.
  *
  * The reader names [[ParquetFormat]], so the relation's scans broadcast
  * a light Hadoop conf.
  *
  * At 100 TB a catalog or table format holds the schema; reading one
  * footer is the same I/O as Spark's inference job, without the job.
  */
object ParquetSource {

  /** `paths` read through [[ParquetFormat]] with the schema of the first
    * path's footer.
    */
  def read(s: SparkSession, paths: String*): DataFrame =
    s.read.format(ParquetFormat.Name).schema(schema(s, paths.head)).load(paths: _*)

  /** The data schema of the parquet file or directory at `path`. */
  def schema(s: SparkSession, path: String): StructType = {
    val state = s.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.newHadoopConf()
    val root = new Path(path)
    val file = firstDataFile(root.getFileSystem(conf), root).getOrElse(
      throw new java.io.FileNotFoundException(s"no parquet data file under $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(state.conf))
  }

  /** The first data file at or under `p`, in name order, depth first. */
  private def firstDataFile(fs: FileSystem, p: Path): Option[FileStatus] = {
    val status = fs.getFileStatus(p)
    if (!status.isDirectory) Some(status)
    else {
      val (dirs, files) = fs.listStatus(p)
        .filterNot { c =>
          val n = c.getPath.getName
          (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
        }
        .sortBy(_.getPath.getName)
        .partition(_.isDirectory)
      files.headOption.orElse(dirs.iterator.flatMap(d => firstDataFile(fs, d.getPath)).nextOption())
    }
  }
}

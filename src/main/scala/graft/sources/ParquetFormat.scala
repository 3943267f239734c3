package graft.sources

import java.io.DataOutput

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{Text, WritableUtils}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Spark's parquet format, whose scans broadcast a light Hadoop conf.
  *
  * Every file scan broadcasts its Hadoop `Configuration` to the tasks
  * (`SerializableConfiguration.broadcast` in
  * `ParquetFileFormat.buildReaderWithPartitionValues`), and the cost of
  * that broadcast is the conf's provenance, not its data. The session
  * conf holds about 1,100 properties, most of them from core-, yarn- and
  * mapred-default, and `Configuration.write` writes each one's source list
  * through `WritableUtils.writeCompressedStringArray`: a new
  * `GZIPOutputStream`, with its native `Deflater`, per property. That took
  * 3.6 ms and 114 KB per scan on a 4-core host, the largest fixed cost of
  * a served point lookup. This format hands Spark's reader a
  * [[SourcelessConf]] copy of the scan's conf instead: the same keys and
  * values, without source lists (0.11 ms, 69 KB). Executors read it back
  * as before (`SerializableConfiguration.readObject` sets every pair on a
  * `new Configuration(false)`), so they see the same values; only each
  * property's source reads "programmatically" there.
  *
  * Every graft parquet relation is created with this format
  * (`format(ParquetFormat.Name)`): [[ParquetSource.read]], the stream
  * reads, and [[ArtifactStore.bucketedTable]], whose catalog table records
  * it as its provider. A planner rule that swapped the format of an
  * existing relation would not work: `ParquetFileFormat.equals` holds for
  * any two parquet formats, so tree transforms keep the old relation.
  * Writes are Spark's own: a write job serializes its conf in its task
  * binary (`WriteJobDescription`), which a format cannot replace.
  */
class ParquetFormat extends ParquetFileFormat {

  override def buildReaderWithPartitionValues(sparkSession: SparkSession,
      dataSchema: StructType, partitionSchema: StructType, requiredSchema: StructType,
      filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    super.buildReaderWithPartitionValues(sparkSession, dataSchema, partitionSchema,
      requiredSchema, filters, options, new SourcelessConf(hadoopConf))
}

object ParquetFormat {

  /** The name to pass to `format(...)` on a reader or writer. */
  val Name: String = classOf[ParquetFormat].getName
}

/** A copy of `conf` that writes each property's key and value as
  * `Configuration.write` does, and a null source list in place of each
  * gzip-compressed one, so it reads back through `readFields` to the same
  * keys and values.
  */
private[graft] class SourcelessConf(conf: Configuration) extends Configuration(conf) {

  override def write(out: DataOutput): Unit = {
    val props = getProps
    WritableUtils.writeVInt(out, props.size)
    props.entrySet.forEach { e =>
      Text.writeString(out, e.getKey.asInstanceOf[String])
      Text.writeString(out, e.getValue.asInstanceOf[String])
      WritableUtils.writeCompressedStringArray(out, null)
    }
  }
}

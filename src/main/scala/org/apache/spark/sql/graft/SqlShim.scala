package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Minimal bridge to the `private[sql]` members a third-party operator
  * library needs: turning a custom resolved [[LogicalPlan]] back into a
  * public DataFrame (the access path `Dataset.ofRows` gives Spark's own
  * modules), marking such a plan analyzed, the float normalization
  * Spark's planner applies to grouping keys, and the parquet
  * footer-to-schema conversion Spark's schema inference runs. Nothing
  * else from the internal API surface is exposed.
  */
object SqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** [[ofRows]] of a plan that is already resolved, marked analyzed
    * first: the analyzer returns an analyzed plan as it is and skips it
    * inside every plan built on top, so none of its rules walks a local
    * relation's rows. */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    ofRows(spark, plan)
  }

  /** `e` with NaN and -0.0 normalized, as Spark groups and joins on it. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** The Spark schema of the parquet data under `path` (a file, or a
    * directory read recursively as Spark lists it: hidden `_`/`.` names
    * skipped, partition directories descended) from one data file's
    * footer, read on the driver and converted by
    * `ParquetFileFormat.readSchemaFromFooter` under the session's parquet
    * conf — what `spark.read.parquet` infers from that same file, with no
    * job. None when `path` holds no data file. Partition columns are not
    * in a footer; a read given this schema infers them from the paths. */
  def parquetFooterSchema(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val hadoopConf = session.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    def firstData(s: FileStatus): Option[FileStatus] =
      if (!s.isDirectory) Some(s)
      else fs.listStatus(s.getPath).filterNot(c => hidden(c.getPath.getName))
        .sortBy(c => (c.isDirectory, c.getPath.getName)).iterator
        .map(firstData).collectFirst { case Some(f) => f }
    if (!fs.exists(root)) None
    else firstData(fs.getFileStatus(root)).map { f =>
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(session.sessionState.conf))
    }
  }
}

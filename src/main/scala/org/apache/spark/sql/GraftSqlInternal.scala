package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Minimal same-package accessor for the Spark internals the graft
  * library needs:
  *  - turning a [[LogicalPlan]] built by the library (e.g.
  *    [[graft.plans.AsOfJoin]]) back into a user-facing `DataFrame`
  *    (`Dataset.ofRows` is `private[sql]`);
  *  - the Spark schema of one parquet file, read from its footer on
  *    the calling thread.
  * The bridge lives in `org.apache.spark.sql` — the standard pattern
  * every Spark extension library that introduces its own logical
  * operators uses. Nothing else from the internals is re-exported.
  */
object GraftSqlInternal {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** The schema Spark's parquet inference derives from `file`, without
    * the Spark job inference launches: the footer is read here (row
    * groups skipped) and converted by `ParquetFileFormat`'s own
    * footer→schema path — the Spark schema recorded in the footer when
    * present, else the parquet schema under the session's conversion
    * settings.
    */
  def parquetFooterSchema(spark: SparkSession, file: Path): StructType = {
    val session = spark.asInstanceOf[ClassicSparkSession]
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, session.sparkContext.hadoopConfiguration),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, meta),
      new ParquetToSparkSchemaConverter(session.sessionState.conf))
  }
}

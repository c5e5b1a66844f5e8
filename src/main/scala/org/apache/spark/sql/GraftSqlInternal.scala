package org.apache.spark.sql

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter, ParquetUtils}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** Minimal same-package accessor for the Spark internals the graft
  * library needs:
  *  - turning a [[LogicalPlan]] built by the library (e.g.
  *    [[graft.plans.AsOfJoin]]) back into a user-facing `DataFrame`
  *    (`Dataset.ofRows` is `private[sql]`);
  *  - the Spark schema of one parquet file, read from its footer on
  *    the calling thread;
  *  - the writer: a `DataFrame` whose optimized plan is a
  *    `LocalRelation` written as one parquet file on the calling
  *    thread through Spark's own parquet `OutputWriterFactory`.
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

  /** Write `df` as ONE parquet file in the new dir `dir` on the calling
    * thread when its optimized plan is a `LocalRelation` — rows already
    * resident on the driver (a frame built from a `Seq`, with any
    * projection or filter Spark folds into it). The file is what one
    * task of `df.write.parquet` writes: the schema checks the write
    * command makes, the writer factory of `ParquetUtils.prepareWrite`
    * under the session's conf, a `part-00000-<uuid>-c000` name, and
    * the plan's own output schema (nullability included). No Spark job
    * runs, and no `_SUCCESS` marker is left. Any other plan writes
    * nothing and returns false; only a plan whose every leaf is a
    * `LocalRelation` is optimized here.
    */
  def writeLocalParquet(df: DataFrame, dir: Path): Boolean = {
    val qe = df.asInstanceOf[ClassicDataset[_]].queryExecution
    if (!qe.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]))
      return false
    qe.optimizedPlan match {
      case r: LocalRelation if !r.isStreaming =>
        val session = df.sparkSession.asInstanceOf[ClassicSparkSession]
        val sqlConf = session.sessionState.conf
        val schema = r.schema
        val format = new ParquetFileFormat
        DataSource.validateSchema("parquet", schema, sqlConf)
        DataSourceUtils.verifySchema(format, schema)
        DataSourceUtils.checkFieldNames(format, schema)
        SchemaUtils.checkColumnNameDuplication(schema.fieldNames.toSeq,
          sqlConf.caseSensitiveAnalysis)
        val job = Job.getInstance(session.sessionState.newHadoopConf())
        val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
          new ParquetOptions(Map.empty[String, String], sqlConf))
        val ctx = new TaskAttemptContextImpl(job.getConfiguration,
          new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
        val file = new Path(dir,
          s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}")
        val writer = factory.newInstance(file.toString, schema, ctx)
        try r.data.foreach(writer.write) finally writer.close()
        true
      case _ => false
    }
  }
}

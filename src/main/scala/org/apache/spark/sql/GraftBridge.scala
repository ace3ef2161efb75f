package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.util.SerializableConfiguration

import java.util.UUID

/** Bridge into the `private[sql]` Column↔Expression converters of the
  * classic (non-Connect) API — the standard extension idiom for
  * libraries that ship custom Catalyst expressions against Spark 4.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** The schema file sources report for data written with `s`. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** Write `df` as parquet into `path` with `hadoopConf`, replacing what
    * is there (`SaveMode.Overwrite`): `FileFormatWriter.write`, called the way
    * `InsertIntoHadoopFsRelationCommand` calls it, but with the caller's
    * conf, which its write and stats-tracker tasks deserialize. The files
    * (`_SUCCESS` included) are the ones `df.write.parquet` writes with
    * that conf. Unlike `DataFrameWriter`, it refreshes no cached plan that
    * reads `path`.
    */
  def writeParquet(df: DataFrame, path: String, hadoopConf: Configuration): Unit = {
    val qe = df.queryExecution
    val out = new Path(path)
    val fs = out.getFileSystem(hadoopConf)
    val dir = out.makeQualified(fs.getUri, fs.getWorkingDirectory).toString
    // named, as `DataFrameWriter`'s is: only named executions reach the
    // session's QueryExecutionListeners, and so `observe` metrics
    SQLExecution.withNewExecutionId(qe, Some("command")) {
      fs.delete(new Path(dir), true)
      val plan = qe.executedPlan
      val committer = FileCommitProtocol.instantiate(
        qe.sparkSession.sessionState.conf.fileCommitProtocolClass, UUID.randomUUID.toString, dir)
      val tracker = new BasicWriteJobStatsTracker(
        new SerializableConfiguration(hadoopConf), BasicWriteJobStatsTracker.metrics)
      FileFormatWriter.write(qe.sparkSession, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(dir, Map.empty, plan.output), hadoopConf,
        Nil, None, Seq(tracker), Map.empty)
    }
  }
}

/** Serializable Hadoop `Configuration` carrier for task closures —
  * wraps the `private[spark]` SerializableConfiguration so executor-side
  * filesystem access (cuckoo blob IO) sees the session's `spark.hadoop.*`
  * settings (s3a credentials, endpoints) instead of a bare default conf.
  */
final class SerializableHadoopConf(@transient conf: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private val inner = new org.apache.spark.util.SerializableConfiguration(conf)
  def value: org.apache.hadoop.conf.Configuration = inner.value
}

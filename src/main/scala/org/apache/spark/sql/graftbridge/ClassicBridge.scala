package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into the `private[sql]` classic-session internals the
  * SQL DML router needs (the same seam Delta/Iceberg open with their
  * own `org.apache.spark.sql.*` shim files): wrap a Catalyst expression
  * as a public [[Column]], and resolve a parsed logical plan to a
  * [[DataFrame]]. Nothing else crosses this boundary. */
object ClassicBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expr(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Rebind a streaming micro-batch's ALREADY-COMPUTED rows as a batch
    * DataFrame (the `Sink.addBatch` contract hands a DF that cannot be
    * re-planned for a batch write) — the standard V1-sink capture:
    * `toRdd` of the executed batch, wrapped without recompute. */
  def capturedBatch(data: DataFrame): DataFrame = {
    val spark = data.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rows = data.queryExecution.toRdd.map(_.copy())
    spark.internalCreateDataFrame(rows, data.schema, isStreaming = false)
  }

  // ----------------------------------------------- executor parquet writing

  /** A serializable Hadoop conf carrying everything
    * [[org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport]]
    * reads at `init` — the row schema plus the session's parquet write
    * dialect (legacy format, timestamp encoding, rebase modes, zone) —
    * so an executor-side writer produces the files `df.write.parquet`
    * would, bar the timestamp encoding pinned below. Built once on the
    * driver, shipped inside the writer factory or task closure. */
  def parquetWriteConf(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.util.SerializableConfiguration = {
    import org.apache.spark.sql.internal.SQLConf
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = classic.sessionState.newHadoopConf()
    val sql = classic.sessionState.conf
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sql.writeLegacyParquetFormat.toString)
    // always standard INT64 micros, never legacy INT96, whatever the
    // session's outputTimestampType: INT96 footers carry no min/max for
    // the footer-stats fast path, and the user's conf stays untouched
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sql.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sql.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf.set("spark.sql.parquet.compression.codec", sql.parquetCompressionCodec)
    new org.apache.spark.util.SerializableConfiguration(conf)
  }

  /** An executor-side [[org.apache.parquet.hadoop.ParquetWriter]] of
    * [[org.apache.spark.sql.catalyst.InternalRow]]s — Spark's own write
    * support over parquet-mr's builder, opened directly by a v2
    * `DataWriter` task or a staged GraftTable write (no driver round-trip,
    * no shuffle: each task streams its partition straight to its own
    * file). */
  def parquetRowWriter(conf: org.apache.hadoop.conf.Configuration, file: String)
      : org.apache.parquet.hadoop.ParquetWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.parquet.hadoop.ParquetWriter
    import org.apache.parquet.hadoop.api.WriteSupport
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    class B(p: org.apache.hadoop.fs.Path) extends ParquetWriter.Builder[InternalRow, B](p) {
      override def self(): B = this
      override def getWriteSupport(c: org.apache.hadoop.conf.Configuration)
          : WriteSupport[InternalRow] = new ParquetWriteSupport()
    }
    new B(new org.apache.hadoop.fs.Path(file))
      .withConf(conf)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName
        .fromConf(conf.get("spark.sql.parquet.compression.codec", "snappy")))
      .build()
  }
}

package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graftbridge.ClassicBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.core.GraftTable

/** The DSv2 `StreamingWrite` for named graft tables
  * (`writeStream.toTable("graft.ns.t")` — [[graft.catalog.GraftCatalog]]):
  * a genuinely DISTRIBUTED streaming append. Each executor task streams
  * its partition straight into its own staged parquet file (Spark's own
  * `ParquetWriteSupport` over parquet-mr, the same writer every staged
  * GraftTable write uses — [[ClassicBridge.parquetRowWriter]]); the
  * driver-side epoch commit folds the staged files into the manifest
  * through [[GraftTable.commitStreamFiles]] — the same stats/bloom
  * pass, CHECK enforcement, and stream-HWM exactly-once CAS loop as
  * the V1 path sink, but with ZERO row traffic through the driver and
  * no second write of the data.
  *
  * At 100 TB the shape is the right one: a 1000-task micro-batch
  * writes 1000 files in parallel, the commit is one manifest CAS of
  * O(batch files) entries, and a replayed epoch (at-least-once
  * delivery) deletes its re-staged files against the high-water mark
  * instead of double-appending. Task-attempt uniqueness rides the
  * file name (`ep<epoch>-p<partition>-t<taskId>`); with the commit
  * coordinator on, exactly one attempt per partition reports its file.
  * Attempts that die before abort leave dot-staged orphans — invisible
  * to every read (the manifest is the catalog), reclaimed by vacuum. */
private[graft] class GraftStreamingWrite(path: String, streamId: String,
    schema: StructType, statsCols: Seq[String], bloomCols: Seq[String],
    spark: SparkSession) extends StreamingWrite {

  private val stageDir = new File(path, ".stage-stream")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    stageDir.mkdirs()
    new GraftStreamWriterFactory(stageDir.getAbsolutePath,
      ClassicBridge.parquetWriteConf(spark, schema))
  }

  override def useCommitCoordinator(): Boolean = true

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect {
      case GraftWrittenFile(f) if f.nonEmpty => new File(f)
    }.toSeq
    GraftTable.commitStreamFiles(spark, path, streamId, epochId, files,
      schema, statsCols, bloomCols): Unit
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftWrittenFile(f) if f.nonEmpty => new File(f).delete(): Unit
      case _ => ()
    }

  override def toString: String = s"GraftStreamingWrite[$path]"
}

/** One staged file per committed task attempt; empty path = the task
  * saw no rows (no zero-row parquet files are ever created). */
private[graft] case class GraftWrittenFile(file: String) extends WriterCommitMessage

private[graft] class GraftStreamWriterFactory(stageDir: String,
    conf: SerializableConfiguration) extends StreamingDataWriterFactory {
  // per-run discriminator: after an app restart replaying the same epoch,
  // task IDs restart near 0 and would collide with orphans a dead attempt
  // left in the stage dir (ParquetWriter CREATE mode fails the task) — the
  // same commitId discipline the batch writers use
  private val runId = java.util.UUID.randomUUID.toString.take(8)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftRowFileWriter(stageDir, s"ep$epochId-r$runId", partitionId, taskId, conf)
}

/** The per-task writer behind every staged write (streaming epochs,
  * batch INSERTs — [[GraftBatchWriterFactory]] — and
  * [[GraftTable]]'s own staged writes): lazily opens its
  * parquet file on the first row (an empty partition stages nothing),
  * streams rows through Spark's write support (no buffering beyond
  * parquet's own row groups). */
private[graft] class GraftRowFileWriter(stageDir: String, namePrefix: String,
    partitionId: Int, taskId: Long, conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {

  private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
  private var file: File = _

  override def write(row: InternalRow): Unit = {
    if (writer == null) {
      file = new File(stageDir, f"$namePrefix-p$partitionId%05d-t$taskId.parquet")
      writer = ClassicBridge.parquetRowWriter(conf.value, file.getAbsolutePath)
    }
    writer.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    GraftWrittenFile(if (file == null) "" else file.getAbsolutePath)
  }

  override def abort(): Unit = if (writer != null) {
    try writer.close() catch { case _: Throwable => () }
    file.delete(): Unit
  }

  override def close(): Unit = ()
}
